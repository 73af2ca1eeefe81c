"""Session factory / spark-submit shipping contracts (session 8: two
real launcher bugs — see BASELINE.md spark-submit section)."""

from __future__ import annotations

import pathlib
import zipfile

import pytest

from twinspect_spark.session import default_driver_memory, package_zip


def test_package_zip_deterministic(tmp_path):
    """Identical sources must produce byte-identical zips: Spark
    hard-rejects re-adding a same-named archive with different bytes,
    which is exactly what happens when --py-files shipped one build and
    get_spark rebuilds another (mtime-stamped) one."""
    a = pathlib.Path(package_zip()).read_bytes()
    b = pathlib.Path(package_zip()).read_bytes()
    assert a == b


def test_package_zip_layout():
    with zipfile.ZipFile(package_zip()) as zf:
        names = zf.namelist()
    assert "twinspect_spark/session.py" in names
    assert "twinspect_spark/__main__.py" in names
    # package-relative layout only — nothing outside the package root
    assert all(n.startswith("twinspect_spark/") for n in names)
    # fixed timestamps (the determinism mechanism)
    with zipfile.ZipFile(package_zip()) as zf:
        assert all(i.date_time == (1980, 1, 1, 0, 0, 0) for i in zf.infolist())


def test_get_spark_respects_existing_session_master(spark):
    """The conftest session was created standalone → local master; the
    factory must not have overridden an externally-chosen master (the
    spark-submit case is exercised for real in BASELINE.md; here we pin
    the standalone default)."""
    assert spark.sparkContext.master.startswith("local[")


@pytest.mark.parametrize(
    "host_gb, cores, want",
    [
        (15, 8, "15g"),    # 24 GB asked, clamped to host RAM
        (15, 4, "12g"),    # 3 GB/core fits
        (15, 1, "8g"),     # 8 GB floor
        (256, 32, "64g"),  # 64 GB ceiling
    ],
)
def test_default_driver_memory_clamped_to_host_ram(
    monkeypatch, host_gb, cores, want
):
    page = 4096
    sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": (host_gb << 30) // page}
    monkeypatch.setattr("os.sysconf", sysconf.__getitem__)
    assert default_driver_memory(cores) == want

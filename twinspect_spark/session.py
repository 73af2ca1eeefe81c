"""SparkSession factory with the engine's standard tuning.

Local-mode testing stands in for a multi-executor cluster; every setting
here is cluster-safe (AQE, skew-join, Arrow batching) and the parallelism
knob is a parameter so bench.py can run the same job at local[8] vs
local[32] for the scaling-efficiency evidence (BASELINE.md targets).

The driver heap defaults to `default_driver_memory(cores)`, clamped to
host RAM. Spark's generated-code class cache is sized to hold the whole
plan set of a `run_dedup` pass, so a warm pass compiles no class
(`get_spark` has the measured counts).
"""

from __future__ import annotations

import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession

from twinspect_spark.streaming.incremental import BUCKET_PARTS, ID_PARTS


def package_zip() -> str:
    """Zip this package for executor shipment (the `spark-submit
    --py-files` artifact, built on demand). Local-mode Python workers are
    separate processes and do NOT inherit the driver's sys.path — any
    pandas-UDF closure referencing twinspect_spark needs this on a real
    cluster and in local mode alike."""
    pkg_root = pathlib.Path(__file__).resolve().parent
    out = pathlib.Path(tempfile.gettempdir()) / "twinspect_spark_pkg.zip"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg_root.rglob("*.py")):
            # fixed timestamp → byte-identical zip for identical sources;
            # Spark hard-rejects re-adding a same-named file whose bytes
            # differ, and mtimes would differ on every checkout/build
            info = zipfile.ZipInfo(
                f"twinspect_spark/{py.relative_to(pkg_root)}",
                date_time=(1980, 1, 1, 0, 0, 0),
            )
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, py.read_bytes())
    return str(out)


def default_driver_memory(cores: int) -> str:
    """Driver heap for a `cores`-slot local session: 3 GB per core within
    [8, 64] GB, clamped to host RAM so the JVM still starts on a small
    host (8 cores asks 24 GB; a 15 GB host gets 15g). Used by `get_spark`
    and by bench.py's spark-submit launcher."""
    host_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 30
    return f"{min(max(8, 3 * cores), 64, host_gb)}g"


def get_spark(
    app_name: str = "twinspect_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or return the running) session with the engine's tuning.

    `spark.sql.codegen.cache.maxEntries` is a static conf: it is read
    once per JVM, when the first generated class is compiled, so it only
    takes effect on the session that starts the JVM (a later getOrCreate
    cannot change it). Local mode runs driver and executors in one JVM;
    whether executors on a real cluster take the value from SparkConf is
    not verified.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    # Executor-faithful JVM sizing. A cluster executor runs N cores with
    # a few GB/core and GC threads matched to its slice of the machine;
    # local mode's old one-size 90g heap measurably poisoned throughput
    # (G1 card/remset span + first-touch page faults over a mostly-empty
    # 90 GB address range): the 1M-file bucket self-join at local[8]
    # spent 296 CPU-sec under the 90g heap vs 131 under a 24g heap with
    # GC threads pinned to the core count — a 2.3x tax that grew WITH
    # parallelism and corrupted scaling measurements (BASELINE.md r3).
    mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(cores)
    gc_threads = max(2, min(cores, 16))
    gc_opts = (
        f"-XX:ParallelGCThreads={gc_threads} "
        f"-XX:ConcGCThreads={max(1, gc_threads // 4)}"
    )
    from pyspark import SparkConf

    builder = SparkSession.builder.appName(app_name)
    # under spark-submit the master (and a real cluster) is already
    # chosen — only default to local[cores] when launched standalone
    if not SparkConf().contains("spark.master"):
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # managed-table warehouse out of cwd; real deployments override
        # (an Iceberg catalog carries its own warehouse location)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                os.path.join(tempfile.gettempdir(), "twinspect_warehouse"),
            ),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", gc_opts)
        .config("spark.ui.enabled", "false")
        # real traceback when an Arrow/pandas worker dies mid-batch
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Static broadcasts (tiny dims) stay enabled above; the ADAPTIVE
        # runtime conversion is disabled because AQE re-plans the LSH
        # band/pair self-joins into broadcasts when post-shuffle stats
        # look small-ish, building multi-million-row hash relations per
        # task (measured 50 s vs 5 s on the candidate stage at 160k
        # files). On a real cluster the pair stream must shuffle, never
        # broadcast.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # Spark's default codegen class cache (100 entries) is smaller
        # than the whole-stage-codegen class set the engine cycles
        # through, measured on 4 vCPUs: one run_dedup pass compiles 104
        # distinct classes on the perfbench `planted` workload and 83 on
        # `longdoc`; run_dedup + run_dedup_resumable + process_batch in
        # one session compile ~450. The cache is a size-bounded Guava
        # cache that evicts per segment, so misses start below 100
        # entries: with the default, every warm pass recompiled 50
        # classes on `planted` and 28 on `longdoc` (each one restarting
        # in the JVM interpreter), and the shared session recompiled 75
        # per warm run_dedup of a 2,100-file corpus, 44 per resume and
        # ~238 per stream batch. With 1000 entries the warm run_dedup
        # and resume passes compile 0 classes, a stream batch 0-10.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # A parquet read lists a directory's subdirectories in a Spark
        # job once there are more than this many (default 32). Each
        # batch dir of the streaming stores holds ID_PARTS or
        # BUCKET_PARTS partition dirs (64), so at the default every
        # store read launched one listing job per committed batch: jobs
        # per process_batch rose by 3 a batch (43, 75, 78, ..., 87 over
        # six 358-file batches on 4 vCPUs). At their max, a batch dir's
        # partition dirs are listed on the driver, and a store with more
        # batch dirs than that is listed in ONE job: jobs per batch stay
        # constant either way.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(max(ID_PARTS, BUCKET_PARTS)))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # skip the self-ship when spark-submit --py-files already delivered
    # the package (re-adding a different build of the same filename is a
    # hard error; same-build re-adds are merely warned and wasteful)
    shipped = spark.sparkContext.getConf().get("spark.submit.pyFiles", "") or ""
    if "twinspect_spark_pkg.zip" not in shipped:
        spark.sparkContext.addPyFile(package_zip())
    return spark

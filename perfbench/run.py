"""twinspect_spark dedup benchmark.

    python3 perfbench/run.py --workload planted --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

Run from the repository root. One process starts a local[nproc] Spark
session, builds the workload's seeded input, warms up (all of this is
``setup_s``), then times warm passes for ``--seconds`` (at least
MIN_PASSES). Every pass's output is checked. The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.
The exit code is non-zero when any output check fails.

Everything the run writes (Spark scratch, inputs, checkpoints, stores,
event logs, the compiled LCS kernel) stays under ``.perfbench_work/`` in
the repository root. See perfbench/RATIONALE.md for the workloads and
metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_PASSES = 3  # timed warm passes per run, however short --seconds is


def confine_to_checkout() -> None:
    """Point every scratch location of Python, the JVM and Spark at WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(WORK, "warehouse")
    os.environ["XDG_CACHE_HOME"] = os.path.join(WORK, "cache")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


END_TO_END_UNITS = {
    "files_per_s": "1/s",
    "setup_s": "s",
    "pair_recall": "ratio",
    "pair_precision": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Per-layer metric → unit. Every traced run prints all of them, 0 where
    the workload does not run that layer."""
    from perfbench.workloads import PIPELINE_STAGES, STORE_DIRS
    from twinspect_spark.plans.manifest import STAGES

    u = {
        "host.probe_s": "s",
        "trace.overhead_ratio": "ratio",
        "trace.span_coverage": "ratio",
        "ingest.rows_in": "count",
        "ingest.bytes_in": "bytes",
        "ingest.exact_dup_rows": "count",
        "ingest.shuffle_write_bytes": "bytes",
        "signatures.rows": "count",
        "signatures.udf_busy_s": "s",
        "signatures.udf_share": "ratio",
        "buckets.bucket_rows": "count",
        "buckets.capped_buckets": "count",
        "buckets.chained_buckets": "count",
        "buckets.shuffle_write_bytes": "bytes",
        "buckets.task_skew": "ratio",
        "candidates.pairs_out": "count",
        "candidates.shuffle_write_bytes": "bytes",
        "verify.pairs_in": "count",
        "verify.est_accepted": "count",
        "verify.exact_checked": "count",
        "verify.lcs_run": "count",
        "verify.lcs_rescued": "count",
        "verify.useful_ratio": "ratio",
        "cluster.edges_in": "count",
        "cluster.driver_built": "count",
        "cluster.dup_members": "count",
        "pipeline.jobs": "count",
        "pipeline.cpu_util": "ratio",
        "manifest.resume_read_s": "s",
        "stream.batch_s.early": "s",
        "stream.batch_s.late": "s",
        "stream.late_early_ratio": "ratio",
        "stream.state_rows": "count",
        "stream.edges_rows": "count",
    }
    for s in PIPELINE_STAGES:
        u[f"{s}.wall_s"] = "s"
        u[f"{s}.gc_s"] = "s"
        u[f"{s}.spill_bytes"] = "bytes"
        u[f"{s}.executor_cpu_s"] = "s"
    for s in STAGES:
        u[f"manifest.{s}.write_s"] = "s"
        u[f"manifest.{s}.bytes"] = "bytes"
        u[f"manifest.{s}.part_files"] = "count"
    for d in STORE_DIRS:
        u[f"stream.store_bytes.{d}"] = "bytes"
    return u


def host_probe() -> float:
    """Constant-work CPU probe (interpreter loop + sha256 over 32 MiB),
    median of three; a host-drift sentinel, never used to normalise."""
    buf = bytes(1 << 20)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(400_000):
            x += i * i
        h = hashlib.sha256()
        for _ in range(32):
            h.update(buf)
        h.digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run_dir: str, trace: bool):
    from twinspect_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(run_dir, "events")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", cores=nproc(), extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def timed_steps(wl, seconds: float, trace: bool, log, min_steps: int = MIN_PASSES) -> list:
    """Run steps until ``seconds`` have passed (at least ``min_steps``).
    Traced runs alternate plain and traced steps."""
    from perfbench.workloads import attempt

    steps, t_start = [], time.perf_counter()
    while True:
        i = len(steps)
        if i >= min_steps and time.perf_counter() - t_start >= seconds:
            break
        traced = trace and i % 2 == 1
        r = attempt(wl, i, traced)
        steps.append(r)
        log(f"step {i}{' traced' if traced else ''}: {r.wall_s:.3f} s "
            f"{'ok' if not r.problems else r.problems}")
    return steps


def check_digests(wl, steps, book) -> None:
    """Same input → same digest: across the steps of a run, and across
    runs of one seed (DigestBook). Stream steps see different inputs, so
    each batch index has its own key."""
    per_batch = not wl.same_input_each_step
    for i, r in enumerate(steps):
        if not r.digest:
            continue
        key = f"{wl.key()}:b{i}" if per_batch else wl.key()
        if not per_batch and r.digest != steps[0].digest:
            r.problems.append("digest differs from the run's first pass")
        if not book.agrees(key, r.digest):
            r.problems.append("digest differs from an earlier run of this seed")


def end_to_end(wl, steps, setup_s: float) -> dict[str, float]:
    last = steps[-1]
    return {
        "files_per_s": wl.n_files / statistics.median(s.wall_s for s in steps),
        "setup_s": setup_s,
        "pair_recall": last.recall,
        "pair_precision": last.precision,
    }


def per_layer(wl, steps, groups, probe_s: float, cores: int) -> dict[str, float]:
    from perfbench.workloads import PIPELINE_STAGES

    out = {name: 0.0 for name in per_layer_units()}
    out.update(wl.layer)
    out["host.probe_s"] = probe_s
    plain = [s.wall_s for s in steps if not s.traced]
    traced = [s.wall_s for s in steps if s.traced]
    out["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(plain)

    tag = wl.trace_tag + ":"
    mine = {g[len(tag):]: st for g, st in groups.items() if g.startswith(tag)}
    out["pipeline.jobs"] = sum(st.jobs for st in mine.values())
    out["pipeline.cpu_util"] = sum(st.run_s for st in mine.values()) / (
        wl.trace_wall * cores
    )
    for stage in PIPELINE_STAGES:
        st = mine.get(stage)
        if st is None:
            continue
        out[f"{stage}.gc_s"] = st.gc_s
        out[f"{stage}.spill_bytes"] = st.spill_bytes
        out[f"{stage}.executor_cpu_s"] = st.cpu_s
    for stage in ("ingest", "buckets", "candidates"):
        if stage in mine:
            out[f"{stage}.shuffle_write_bytes"] = mine[stage].shuffle_write_bytes
    if "buckets" in mine:
        out["buckets.task_skew"] = mine["buckets"].task_skew()
    if "signatures" in mine and mine["signatures"].run_s > 0:
        out["signatures.udf_share"] = out["signatures.udf_busy_s"] / mine["signatures"].run_s
    return out


def trace_checks(wl, layer: dict[str, float], log) -> None:
    """The traced run's attribution checks, printed (not part of the
    output verdict: they describe the workload, not the program)."""
    from perfbench.workloads import PIPELINE_STAGES

    cov = layer["trace.span_coverage"]
    log(f"check span coverage {cov:.3f} (>= 0.95): {'PASS' if cov >= 0.95 else 'FAIL'}")
    shares = {s: layer[f"{s}.wall_s"] for s in PIPELINE_STAGES}
    if wl.name == "planted":
        bc = shares.pop("buckets") + shares.pop("candidates")
        ok = bc >= max(shares.values())
        log(f"check buckets+candidates {bc:.3f} s is the largest share: {'PASS' if ok else 'FAIL'}")
    else:
        ok = shares["verify"] >= max(shares.values())
        log(f"check verify {shares['verify']:.3f} s is the largest share: {'PASS' if ok else 'FAIL'}")


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    from perfbench.checks import DigestBook
    from perfbench.eventlog import read_event_log
    from perfbench.workloads import WORKLOADS

    def log(msg: str) -> None:
        print(f"[{workload}] {msg}", file=sys.stderr, flush=True)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        probe_start = host_probe()
        t0 = time.perf_counter()
        spark = start_session(run_dir, trace)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[workload](spark, seed, "full", run_dir)
        wl.setup()
        setup_s = time.perf_counter() - t0
        warm = " ".join(f"{w:.2f}" for w in wl.warm_walls)
        log(f"setup {setup_s:.3f} s (session {session_s:.2f} s, warm-up {warm} s), "
            f"{wl.n_files} files timed per step")
        steps = timed_steps(wl, seconds, trace, log)
        checked = [(wl, steps)] + (wl.finish_trace() if trace else [])
        book = DigestBook(os.path.join(WORK, "digests.json"))
        for w, w_steps in checked:
            check_digests(w, w_steps, book)
        stop_session(spark)
        spark = None
        probe_end = host_probe()
        log(f"host probe {probe_start:.4f} s -> {probe_end:.4f} s")
        attempted = sum(len(w_steps) for _, w_steps in checked)
        failed = 0
        for w, w_steps in checked:
            for i, s in enumerate(w_steps):
                if s.problems:
                    failed += 1
                    log(f"{w.name} step {i} FAILED: {'; '.join(s.problems)}")
        if trace:
            groups = read_event_log(os.path.join(run_dir, "events"))
            values = per_layer(
                wl, steps, groups, statistics.mean([probe_start, probe_end]), nproc()
            )
            trace_checks(wl, values, log)
            units = per_layer_units()
        else:
            values = end_to_end(wl, steps, setup_s)
            units = END_TO_END_UNITS
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }
        log(f"failed {failed} / attempted {attempted}")
        print(json.dumps(result), flush=True)
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["planted", "longdoc"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--selfcheck", action="store_true",
        help="tiny inputs: run every workload's output check, and check that "
        "a corrupted output is caught",
    )
    args = ap.parse_args(argv)
    confine_to_checkout()
    import twinspect_spark  # noqa: F401  (fails here outside a checkout)

    if args.selfcheck:
        from perfbench.selfcheck import selfcheck

        return selfcheck()
    if not args.workload:
        ap.error("--workload is required")
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())

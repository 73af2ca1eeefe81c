"""spark-submit entrypoint (north_rule: ships via spark-submit --py-files).

Usage:
    spark-submit --py-files /tmp/twinspect_spark_pkg.zip \
        -m twinspect_spark  # or the path to this file
        [--input PATH] [--output PATH] [--checkpoint PATH]
        [--jaccard 0.8] [--format parquet|directory]

Reads a files table (parquet with columns repo,path,commit,lang,content,
or a raw directory tree with --format directory), runs the full dedup
pipeline — resumable when --checkpoint is given, keyed by the config
fingerprint and the input (see input_token) — and writes the clusters
table plus a run summary.

Build the zip with twinspect_spark.session.package_zip(). When launched
through plain ``python -m twinspect_spark`` (as in this sandbox), the
session factory creates the local-mode cluster itself.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

# spark-submit bootstrap: --py-files archives land on sys.path only
# AFTER the SparkContext starts, but this script needs the package to
# build the session in the first place. When submitted as a file path
# (client mode, repo checked out on the driver) the package sits next
# to this script — put its parent on sys.path; executors still import
# from the shipped zip.
try:  # pragma: no cover - trivial import guard
    import twinspect_spark  # noqa: F401
except ModuleNotFoundError:  # pragma: no cover
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def input_token(args: argparse.Namespace, files) -> str:
    """Checkpoint-key token for the job's input: a digest of ``--input``,
    ``--format``, the curation-gate flags and the files Spark lists for
    the frame (``inputFiles``; parquet part names are unique per write,
    so a rewritten input lists new files). A source with no file listing
    (e.g. a catalog table that is not file-based) lists none, and is
    keyed by the other parts only."""
    spec = [
        args.input, args.format, args.min_words, args.max_dup_bigram,
        sorted(files.inputFiles()),
    ]
    return hashlib.sha256(json.dumps(spec).encode()).hexdigest()[:16]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="twinspect_spark")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--format", choices=["parquet", "directory"], default="parquet")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument(
        "--report", default=None, metavar="DIR",
        help="also write report.md + SVG plots into DIR",
    )
    ap.add_argument(
        "--min-words", type=int, default=None, metavar="N",
        help="curation gate: drop files with fewer than N whitespace "
        "tokens before dedup",
    )
    ap.add_argument(
        "--max-dup-bigram", type=float, default=None, metavar="X",
        help="curation gate: drop files whose duplicate word-bigram "
        "fraction exceeds X (internally repetitive boilerplate) before "
        "dedup",
    )
    ap.add_argument(
        "--output-buckets", type=int, default=None, metavar="N",
        help="when --output is a catalog table: write it hash-BUCKETED "
        "(and sorted) by file_id into N buckets, so downstream joins on "
        "file_id (signatures, lineage, incremental merges) read it "
        "co-located with zero shuffle Exchange; on Iceberg this is the "
        "bucket(N, file_id) hidden partition transform",
    )
    args = ap.parse_args(argv)

    from twinspect_spark.config import DedupConfig
    from twinspect_spark.session import get_spark

    spark = get_spark("twinspect_spark_submit", cores=args.cores)
    cfg = DedupConfig(jaccard_threshold=args.jaccard)

    if args.format == "directory":
        from twinspect_spark.sources.simprint import files_from_directory

        files = files_from_directory(spark, args.input)
    else:
        # parquet path OR catalog (e.g. Iceberg) table reference
        from twinspect_spark.sources.tables import read_table

        files = read_table(spark, args.input)

    n_gated_out = None
    if args.min_words is not None or args.max_dup_bigram is not None:
        from pyspark.sql import functions as F

        from twinspect_spark.codelake import curation_gate

        pre = files.count()
        files = files.where(
            curation_gate(
                F.col("content"), args.min_words, args.max_dup_bigram
            )
        )
        n_gated_out = pre - files.count()

    t0 = time.perf_counter()
    if args.checkpoint:
        from twinspect_spark.plans.manifest import run_dedup_resumable

        res, status, _ = run_dedup_resumable(
            spark, files, cfg, args.checkpoint, input_token(args, files)
        )
    else:
        from twinspect_spark.pipeline import run_dedup

        res, status = run_dedup(files, cfg), None

    from twinspect_spark.sources.tables import (
        is_table_ref,
        read_table,
        write_bucketed,
        write_table,
    )

    if args.output_buckets:
        if not is_table_ref(args.output):
            ap.error("--output-buckets requires a catalog-table --output")
        write_bucketed(
            res.clusters, args.output, "file_id", args.output_buckets
        )
    else:
        write_table(res.clusters, args.output)
    if args.report:
        from twinspect_spark.report import write_run_artifacts

        write_run_artifacts(res, args.report, cfg)
    out = read_table(spark, args.output)
    summary = {
        "n_files": out.count(),
        "n_dup_members": out.where("file_id != cluster_id").count(),
        "wall_sec": round(time.perf_counter() - t0, 2),
        "config": cfg.fingerprint(),
        "stages": status,
        "n_gated_out": n_gated_out,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Stage-checkpoint manifest: durable parquet checkpoints + resume.

The reference memoizes every stage as a content-addressed artifact —
``{algo}-{dataset}-{checksum}-{tag}.{ext}`` (twinspect/tools.py:30-52) —
and a stage re-run is a cache hit iff the artifact exists
(twinspect/algos/processing.py:31-34, metrics/utils.py:79-92). This
module is the Spark-native equivalent:

- each stage writes parquet under ``<root>/<key>/<stage>/`` where
  ``key = config.fingerprint() [+ input token]``;
- a sidecar ``<stage>.done.json`` manifest row commits strictly AFTER
  the parquet write succeeds (write-then-manifest ordering — the
  artifact-exists-means-done contract is the manifest file, not the
  data files, so a crashed write can never masquerade as complete);
- resume = read the checkpoint instead of recomputing; any missing
  stage recomputes from the nearest completed upstream checkpoint;
- every commit also appends per-partition lineage rows (one per output
  parquet file: rows + bytes, from the ``_metadata`` hidden columns) and
  a stage-level metrics row to ``<root>/<key>/_metrics/`` — the
  north-rule lineage/metrics tables.

Paths are plain directories (local FS in tests; object-store/HDFS URIs
work identically since all IO goes through Spark writers except the tiny
JSON manifest, which production would place on a shared store).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twinspect_spark.config import DedupConfig

STAGES = ["ingested", "signatures", "candidates", "pairs", "clusters"]


def _fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API, so bucketed
    stage overwrites work on any checkpoint root Spark can write to
    (local FS, HDFS, object stores) — not just posix paths."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        fs.delete(hpath, True)

# Stages checkpointed as hash-BUCKETED external tables instead of plain
# parquet (key, n_buckets). The signature store is re-joined on file_id
# by every resumed consumer (estimate filter a-side + b-side, cluster
# expansion) — bucketing it by file_id lets those scans come up already
# hash-partitioned, dropping the signature-side Exchange from each join
# (sources/tables.py write_bucketed documents the layout; on Iceberg
# this is the bucket(N, file_id) hidden-partition transform).
# n_buckets MUST equal spark.sql.shuffle.partitions (32, session.py):
# mismatched partitioning would make Catalyst re-shuffle BOTH sides.
BUCKETED_STAGES: dict[str, tuple[str, int]] = {"signatures": ("file_id", 32)}


class StageManifest:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        cfg: DedupConfig,
        input_token: str = "default",
    ):
        self.spark = spark
        self.cfg = cfg
        self.key = f"{cfg.fingerprint()}-{input_token}"
        self.base = os.path.join(root, self.key)
        os.makedirs(self.base, exist_ok=True)

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.base, stage)

    def _done_path(self, stage: str) -> str:
        return os.path.join(self.base, f"{stage}.done.json")

    def is_complete(self, stage: str) -> bool:
        return os.path.exists(self._done_path(stage))

    def _table_name(self, stage: str) -> str:
        # base-path hash: two manifests with the same config under
        # DIFFERENT roots (common in tests) must not share a catalog
        # entry — the table name is just a session-local handle over
        # LOCATION, but a name collision would re-point a held handle
        import hashlib

        h = hashlib.sha256(self.base.encode()).hexdigest()[:8]
        return re.sub(r"[^0-9A-Za-z_]", "_", f"ckpt_{self.key}_{h}_{stage}")

    def _register_bucketed(self, stage: str, key: str, n: int) -> DataFrame:
        """(Re-)register the bucketed external table for ``stage`` in
        THIS session's catalog and return it. A resumed run is a fresh
        JVM with an empty in-memory catalog — the bucket layout lives
        in the table definition, so it must be re-declared over the
        existing files for Catalyst to plan bucketed scans again."""
        tbl = self._table_name(stage)
        path = self.stage_path(stage)
        self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in self.spark.read.parquet(path).schema.fields
        )
        self.spark.sql(
            f"CREATE TABLE {tbl} ({ddl}) USING PARQUET"
            f" CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n} BUCKETS"
            f" LOCATION '{path}'"
        )
        return self.spark.table(tbl)

    def read(self, stage: str) -> DataFrame:
        done = self._done_path(stage)
        if os.path.exists(done):
            with open(done) as f:
                meta = json.load(f)
            b = meta.get("bucketed")
            if b:
                return self._register_bucketed(stage, b["key"], b["n"])
        return self.spark.read.parquet(self.stage_path(stage))

    def invalidate(self, stage: str) -> None:
        """Drop a stage's completion marker (its data stays until
        overwritten) — forces recompute on the next resumable run."""
        try:
            os.remove(self._done_path(stage))
        except FileNotFoundError:
            pass

    def write(self, stage: str, df: DataFrame, run_id: str) -> DataFrame:
        """Materialize a stage: parquet write → lineage/metrics append →
        manifest commit LAST. Returns the checkpoint-backed DataFrame
        (downstream plans read the files, not the upstream lineage)."""
        t0 = time.perf_counter()
        path = self.stage_path(stage)
        bucketed = BUCKETED_STAGES.get(stage)
        if bucketed and bucketed[0] in df.columns:
            key, n = bucketed
            tbl = self._table_name(stage)
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            # saveAsTable(bucketBy) refuses to overwrite an existing
            # LOCATION dir, so clear it through the Hadoop FileSystem
            # API — resolves local paths, HDFS and object-store URIs
            # alike, matching the module's checkpoint-root contract
            _fs_delete(self.spark, path)
            (
                df.write.format("parquet")
                .mode("overwrite")
                .bucketBy(n, key)
                .sortBy(key)
                .option("path", path)
                .saveAsTable(tbl)
            )
        else:
            bucketed = None
            df.write.mode("overwrite").parquet(path)
        wall_s = round(time.perf_counter() - t0, 3)

        out = (
            self.spark.table(self._table_name(stage))
            if bucketed
            else self.spark.read.parquet(path)
        )
        lineage = (
            out.groupBy(F.col("_metadata.file_path").alias("part_file"))
            .agg(
                F.count("*").alias("rows"),
                F.first(F.col("_metadata.file_size")).alias("bytes"),
            )
            .select(
                F.lit(run_id).alias("run_id"),
                F.lit(stage).alias("stage"),
                "part_file",
                "rows",
                "bytes",
            )
        )
        lineage.write.mode("append").parquet(
            os.path.join(self.base, "_metrics", "lineage")
        )
        stats = lineage.agg(
            F.sum("rows").alias("rows"),
            F.sum("bytes").alias("bytes"),
            F.count("*").alias("n_part_files"),
        ).collect()[0]
        self.spark.createDataFrame(
            [
                (
                    run_id,
                    stage,
                    int(stats["rows"] or 0),
                    int(stats["bytes"] or 0),
                    int(stats["n_part_files"]),
                    wall_s,
                    time.time(),
                )
            ],
            "run_id string, stage string, rows long, bytes long,"
            " n_part_files long, wall_s double, ts double",
        ).write.mode("append").parquet(
            os.path.join(self.base, "_metrics", "stages")
        )
        with open(self._done_path(stage), "w") as f:
            json.dump(
                {
                    "stage": stage,
                    "run_id": run_id,
                    "rows": int(stats["rows"] or 0),
                    "wall_s": wall_s,
                    "config": self.cfg.fingerprint(),
                    "bucketed": (
                        {"key": bucketed[0], "n": bucketed[1]}
                        if bucketed
                        else None
                    ),
                },
                f,
            )
        return out

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.base, "_metrics", "lineage")
        )

    def stage_metrics(self) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.base, "_metrics", "stages")
        )


def run_dedup_resumable(
    spark: SparkSession,
    files: DataFrame,
    cfg: DedupConfig,
    checkpoint_root: str,
    input_token: str = "default",
    run_id: str | None = None,
):
    """The durable twin of pipeline.run_dedup: identical stage graph, but
    every stage boundary is a parquet checkpoint and completed stages are
    skipped on restart (left as read-from-checkpoint, zero recompute).

    Returns (DedupResult, {stage: "cached" | "computed"}, StageManifest).
    """
    from twinspect_spark.operators.buckets import unified_candidates
    from twinspect_spark.operators.cc import cluster_with_members
    from twinspect_spark.operators.exact import collapse_exact_dups
    from twinspect_spark.operators.verify import (
        estimate_filter_candidates,
        verify_pairs,
    )
    from twinspect_spark.pipeline import DedupResult
    from twinspect_spark.signatures import compute_signatures

    run_id = run_id or uuid.uuid4().hex[:12]
    man = StageManifest(spark, checkpoint_root, cfg, input_token)
    status: dict[str, str] = {}

    def stage(name: str, thunk):
        if man.is_complete(name):
            status[name] = "cached"
            return man.read(name)
        status[name] = "computed"
        return man.write(name, thunk(), run_id)

    ingested = stage("ingested", lambda: ingest_stage(files, cfg))

    def _sigs():
        reps, _ = collapse_exact_dups(ingested)
        return compute_signatures(reps, cfg)

    signatures = stage("signatures", _sigs)

    def _cands():
        deduped = unified_candidates(signatures, cfg)
        return estimate_filter_candidates(
            deduped, signatures, cfg, pre_gated=True
        )

    candidates = stage("candidates", _cands)
    pairs = stage("pairs", lambda: verify_pairs(candidates, ingested, cfg))

    def _clusters():
        # rep-graph CC + member expansion — mirror of pipeline.run_dedup
        # (the stage write persists to parquet either way, so the
        # driver-built flag is irrelevant here)
        reps, exact_edges = collapse_exact_dups(ingested)
        clusters, _ = cluster_with_members(
            pairs.where("verified").select("a", "b"),
            vertices=reps.select("file_id"),
            exact_edges=exact_edges,
        )
        return clusters

    clusters = stage("clusters", _clusters)
    return (
        DedupResult(ingested, signatures, candidates, pairs, clusters),
        status,
        man,
    )


def ingest_stage(files: DataFrame, cfg: DedupConfig) -> DataFrame:
    from twinspect_spark.ingest import ingest_files

    return ingest_files(files, cfg)

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

Every stage, ``signatures`` included, is plain parquet read back with
``spark.read.parquet``: no bucketed layout and no catalog table. A
hash-bucketed signatures layout was dropped because no plan used it:
the bucket explode re-shuffles on the packed bucket key right after its
scan, and the planner turned bucketing off for the two other readers
(the narrow ``(file_id, mh16)`` side-checkpoint and the CC vertices).
Checkpoints written in that layout still read, as plain parquet. The
durable cut runs the operator calls of ``run_dedup`` unchanged,
including its one MinHash prefix gate (in the bucket join, re-applied
by the estimate kernel).

Paths are plain directories (local FS in tests; object-store/HDFS URIs
work identically since all IO goes through Spark writers except the tiny
JSON manifest, which production would place on a shared store).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twinspect_spark.config import DedupConfig
from twinspect_spark.pipeline import stage_graph

STAGES = ["ingested", "signatures", "candidates", "pairs", "clusters"]


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

    def read(self, stage: str) -> DataFrame:
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
        df.write.mode("overwrite").parquet(path)
        wall_s = round(time.perf_counter() - t0, 3)

        out = self.spark.read.parquet(path)
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
    """pipeline.stage_graph with every ``STAGES`` boundary cut at a
    parquet checkpoint: a completed stage is read from its checkpoint
    (zero recompute), any other is computed and written. The in-memory
    ``exact_edges`` cut stays lazy here. ``stage_seconds`` carries the
    same hook-name spans as ``run_dedup``.

    Returns (DedupResult, {stage: "cached" | "computed"}, StageManifest).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    man = StageManifest(spark, checkpoint_root, cfg, input_token)
    status: dict[str, str] = {}

    def cut(stage: str, build: Callable[[], DataFrame]) -> DataFrame:
        if stage not in STAGES:
            return build()
        if man.is_complete(stage):
            status[stage] = "cached"
            return man.read(stage)
        status[stage] = "computed"
        return man.write(stage, build(), run_id)

    return stage_graph(files, cfg, cut), status, man

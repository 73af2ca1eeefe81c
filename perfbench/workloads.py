"""Benchmark workloads: set-up, timed steps and the traced variant.

The timed workloads, ``planted`` and ``longdoc``, drive
``pipeline.run_dedup``; one step is one warm pass over the whole corpus.
Their traced runs also drive two untimed exercises once, for the layers
only those reach (RATIONALE.md says why they are not timed workloads):

* ``stream`` (in the traced planted run):
  ``streaming.incremental.process_batch``, one step = one micro-batch
  folded into a store pre-filled during set-up;
* ``resume`` (in the traced longdoc run):
  ``plans.manifest.run_dedup_resumable``, one step = a resume after
  invalidating ``pairs`` and ``clusters`` (set-up ran the cold durable
  pass).

Every step's cluster output is checked (checks.py). In a traced run the
steps alternate plain / traced; a traced step tags its Spark jobs with a
job group per stage and records stage spans from ``stage_hook``.
"""

from __future__ import annotations

import functools
import hashlib
import os
import statistics
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import twinspect_spark
from perfbench import inputs
from perfbench.checks import Truth, check_clusters, make_truth, subset
from twinspect_spark.config import DedupConfig
from twinspect_spark.ingest import FILES_SCHEMA
from twinspect_spark.operators.buckets import bucket_table
from twinspect_spark.operators.cc import DRIVER_CC_MAX_EDGES
from twinspect_spark.pipeline import run_dedup
from twinspect_spark.plans.manifest import STAGES, run_dedup_resumable
from twinspect_spark.streaming.incremental import DedupStore, process_batch

CFG = DedupConfig()
PIPELINE_STAGES = ["ingest", "signatures", "buckets", "candidates", "verify", "cluster"]
STORE_DIRS = ["state", "buckets", "edges", "clusters", "remap", "dead"]


@functools.cache
def code_fingerprint() -> str:
    """sha256 over the package and benchmark sources: output digests are
    only compared between runs of identical code."""
    h = hashlib.sha256()
    here = os.path.dirname(os.path.abspath(__file__))
    for top in (os.path.dirname(twinspect_spark.__file__), here):
        for d, _, names in sorted(os.walk(top)):
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(d, n), "rb") as f:
                        h.update(n.encode() + f.read())
    return h.hexdigest()[:16]


# Input sizes. "full" is what the benchmark times; "tiny" is the
# self-check size (every output check in seconds); "traced" is what the
# traced runs feed the resume and stream exercises.
SIZES = {
    "planted": {
        "full": dict(n_clusters=2400, n_distractors=2400),
        "tiny": dict(n_clusters=12, n_distractors=12),
    },
    "longdoc": {
        "full": dict(n_groups=125, n_solo=125, doc_words=2800),
        "tiny": dict(n_groups=3, n_solo=3, doc_words=300),
    },
    "resume": {
        "traced": dict(n_clusters=400, n_distractors=400),
        "tiny": dict(n_clusters=12, n_distractors=12),
    },
    "stream": {
        "traced": dict(n_clusters=60, n_distractors=60, batch=60, prefill=1, steps=2),
        "tiny": dict(n_clusters=8, n_distractors=8, batch=12, prefill=1, steps=2),
    },
}
# Untimed passes after the input is loaded, in set-up: the first pass in a
# fresh JVM pays class loading and JIT.
WARM_PASSES = 1


@dataclass
class StepResult:
    wall_s: float                   # the step's timed wall
    problems: list[str]             # output-check failures, empty = pass
    digest: str = ""
    recall: float = 0.0
    precision: float = 0.0
    traced: bool = False


class StageClock:
    """stage_hook for run_dedup: timestamps each stage end and moves the
    Spark job group on to the next stage, so the event log attributes
    every job of the pass to the stage that ran it."""

    def __init__(self, spark: SparkSession, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.marks: list[tuple[str, float]] = []

    def group(self, stage: str) -> str:
        return f"{self.tag}:{stage}"

    def start(self) -> None:
        self.sc.setJobGroup(self.group(PIPELINE_STAGES[0]), "perfbench")
        self.t0 = time.perf_counter()

    def __call__(self, stage: str) -> None:
        self.marks.append((stage, time.perf_counter()))
        i = PIPELINE_STAGES.index(stage)
        nxt = PIPELINE_STAGES[i + 1] if i + 1 < len(PIPELINE_STAGES) else "output"
        self.sc.setJobGroup(self.group(nxt), "perfbench")

    def spans(self) -> dict[str, float]:
        out, prev = {}, self.t0
        for stage, t in self.marks:
            out[stage] = t - prev
            prev = t
        return out


def _file_ids(spark: SparkSession, files: pd.DataFrame) -> np.ndarray:
    """The pipeline's file_id (xxhash64 of repo, path, commit) per row."""
    ids = spark.createDataFrame(files[["repo", "path", "commit"]]).select(
        F.xxhash64("repo", "path", "commit").alias("file_id")
    )
    return ids.toPandas()["file_id"].to_numpy(np.int64)


def _write_files(spark: SparkSession, files: pd.DataFrame, path: str) -> DataFrame:
    spark.createDataFrame(files, FILES_SCHEMA).write.parquet(path)
    return spark.read.parquet(path)


def _du(path: str) -> int:
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total


def funnel_counts(spark: SparkSession, res) -> dict[str, float]:
    """Dedup funnel counters read off a finished DedupResult, plus the
    bucket decisions that can cost recall, counted from outside by
    re-deriving ``bucket_table`` over the run's signatures."""
    t = CFG.jaccard_threshold
    ing = res.ingested.count()
    sig_rows = res.signatures.count()
    sizes = bucket_table(res.signatures, CFG).groupBy(
        "space", "bucket_idx", "bucket_key"
    ).count()
    b = sizes.agg(
        F.sum("count").alias("rows"),
        F.sum((F.col("count") > CFG.max_band_bucket).cast("long")).alias("capped"),
        F.sum((F.col("count") > CFG.chain_bucket_size).cast("long")).alias("chained"),
    ).first()
    p = res.pairs.agg(
        F.count("*").alias("out"),
        F.sum((F.col("method") == "minhash_est").cast("long")).alias("est"),
        F.sum((F.col("method") == "exact").cast("long")).alias("exact"),
        F.sum(F.col("lcs_score").isNotNull().cast("long")).alias("lcs_run"),
        F.sum(
            (F.col("verified") & (F.col("method") == "exact") & (F.col("jaccard") < t))
            .cast("long")
        ).alias("rescued"),
        F.sum(F.col("verified").cast("long")).alias("verified"),
    ).first()
    cand = res.candidates.count()
    dup_members = res.clusters.where("file_id != cluster_id").count()
    exact_dups = ing - sig_rows
    udf_s = res.signatures.agg(F.sum("micros")).first()[0] or 0
    return {
        "ingest.rows_in": ing,
        "ingest.exact_dup_rows": exact_dups,
        "signatures.rows": sig_rows,
        "signatures.udf_busy_s": udf_s / 1e6,
        "buckets.bucket_rows": b["rows"] or 0,
        "buckets.capped_buckets": b["capped"] or 0,
        "buckets.chained_buckets": b["chained"] or 0,
        "candidates.pairs_out": cand,
        "verify.pairs_in": cand,
        "verify.est_accepted": p["est"] or 0,
        "verify.exact_checked": p["exact"] or 0,
        "verify.lcs_run": p["lcs_run"] or 0,
        "verify.lcs_rescued": p["rescued"] or 0,
        "verify.useful_ratio": (p["verified"] or 0) / cand if cand else 0.0,
        "cluster.edges_in": p["verified"] or 0,
        "cluster.driver_built": float(
            (p["verified"] or 0) <= DRIVER_CC_MAX_EDGES
            and exact_dups <= DRIVER_CC_MAX_EDGES
        ),
        "cluster.dup_members": dup_members,
    }


def attempt(wl: "Workload", i: int, traced: bool) -> StepResult:
    """One step; a step that raises is a failed step, never a dropped one."""
    t0 = time.perf_counter()
    try:
        return wl.step(i, traced)
    except Exception as e:  # boundary: report and keep counting
        traceback.print_exc()
        return StepResult(time.perf_counter() - t0, [f"raised {type(e).__name__}: {e}"])


class Workload:
    """One workload in one Spark session. ``setup`` builds the inputs and
    warms the JVM; ``step`` runs one timed unit and checks its output."""

    name = ""
    # gross-breakage floors of the output check, far below every workload's
    # measured recall/precision: a pass that merges nothing beyond exact
    # copies, or merges unrelated files, fails. Finer regressions are
    # what the pair_recall / pair_precision bounds in BENCHMARK.json catch.
    min_recall = 0.5
    min_precision = 0.8
    same_input_each_step = True  # steps of a run must agree on the digest

    def __init__(self, spark: SparkSession, seed: int, size: str, scratch: str):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.params = SIZES[self.name][size]
        self.scratch = scratch
        self.n_files = 0
        self.truth: Truth | None = None
        self.layer: dict[str, float] = {}  # per-layer figures of the traced step
        self.trace_tag = ""                # job-group prefix of the traced step
        self.trace_wall = 0.0
        self.warm_walls: list[float] = []  # set-up warm-up walls, for the log

    def key(self) -> str:
        """Digest key: same code, same input parameters, same seed."""
        params = ",".join(f"{k}={v}" for k, v in sorted(self.params.items()))
        return f"{code_fingerprint()}:{self.name}:{params}:{self.seed}"

    def check(self, clusters: pd.DataFrame, truth: Truth) -> StepResult:
        v = check_clusters(clusters, truth, self.min_recall, self.min_precision)
        return StepResult(0.0, v.problems, v.digest, v.recall, v.precision)

    def _load(self, corpus: inputs.Labelled) -> DataFrame:
        ids = _file_ids(self.spark, corpus.files)
        self.truth = make_truth(ids, corpus.group, corpus.files["content"])
        self.n_files = len(corpus.files)
        return _write_files(
            self.spark, corpus.files, os.path.join(self.scratch, "input")
        )

    def _traced(self, i: int, wall: float) -> None:
        self.spark.sparkContext.setJobGroup("counters", "perfbench")
        self.trace_tag, self.trace_wall = f"{self.name}-t{i}", wall

    def setup(self) -> None:
        raise NotImplementedError

    def step(self, i: int, traced: bool) -> StepResult:
        raise NotImplementedError

    def exercise_steps(self) -> int:
        """Steps of an untimed exercise run."""
        return 1

    def finish_trace(self) -> list[tuple["Workload", list[StepResult]]]:
        """Read the traced step's counters into ``self.layer``. Returns any
        further (workload, steps) it ran, whose outputs count as checked."""
        return []


class PassWorkload(Workload):
    """run_dedup over a fixed corpus; each step is one warm pass."""

    def corpus(self) -> inputs.Labelled:
        raise NotImplementedError

    def setup(self) -> None:
        self.files = self._load(self.corpus())
        for _ in range(WARM_PASSES if self.size == "full" else 0):
            t0 = time.perf_counter()
            run_dedup(self.files, CFG).clusters.toPandas()
            self.warm_walls.append(time.perf_counter() - t0)

    def step(self, i: int, traced: bool) -> StepResult:
        clock = StageClock(self.spark, f"{self.name}-t{i}") if traced else None
        if clock:
            clock.start()
        t0 = time.perf_counter()
        res = run_dedup(self.files, CFG, stage_hook=clock)
        out = res.clusters.toPandas()
        wall = time.perf_counter() - t0
        if clock:
            self._traced(i, wall)
            self.last_trace = (clock, res)
        r = self.check(out, self.truth)
        r.wall_s, r.traced = wall, traced
        return r

    def finish_trace(self):
        clock, res = self.last_trace
        spans = clock.spans()
        self.layer.update({f"{s}.wall_s": spans.get(s, 0.0) for s in PIPELINE_STAGES})
        self.layer["trace.span_coverage"] = sum(spans.values()) / self.trace_wall
        self.layer["ingest.bytes_in"] = _du(os.path.join(self.scratch, "input"))
        self.layer.update(funnel_counts(self.spark, res))
        return []

    def exercise(self, cls) -> list[tuple["Workload", list[StepResult]]]:
        """Run workload ``cls`` untimed in this session, traced, and take its
        own layer figures."""
        size = "tiny" if self.size == "tiny" else "traced"
        sub = cls(self.spark, self.seed, size, os.path.join(self.scratch, cls.name))
        sub.setup()
        steps = [attempt(sub, i, True) for i in range(sub.exercise_steps())]
        self.layer.update(sub.own_layers())
        return [(sub, steps)]


class Planted(PassWorkload):
    name = "planted"

    def corpus(self) -> inputs.Labelled:
        return inputs.planted(self.seed, **self.params)

    def finish_trace(self):
        """Also drive the streaming path once, for the streaming.incremental
        layer."""
        return super().finish_trace() + self.exercise(Stream)


class LongDoc(PassWorkload):
    name = "longdoc"

    def corpus(self) -> inputs.Labelled:
        return inputs.longdoc(self.seed, **self.params)

    def finish_trace(self):
        """Also drive the durable path (over planted code files) once, for
        the plans.manifest layer; it sits here rather than in the traced
        planted run to keep both traced runs about equally long."""
        return super().finish_trace() + self.exercise(Resume)


class Resume(Workload):
    """The durable (spark-submit ``--checkpoint``) path. Set-up runs the
    cold pass, which writes all five parquet stages; each step invalidates
    ``pairs`` and ``clusters`` and resumes, reading the other three stages
    from their checkpoints."""

    name = "resume"

    def setup(self) -> None:
        self.files = self._load(inputs.planted(self.seed, **self.params))
        self.root = os.path.join(self.scratch, "ckpt")
        res, status, self.man = run_dedup_resumable(
            self.spark, self.files, CFG, self.root, run_id="cold"
        )
        cold = self.check(res.clusters.toPandas(), self.truth)
        if cold.problems or set(status.values()) != {"computed"}:
            raise RuntimeError(f"cold durable pass failed: {status} {cold.problems}")
        self.cold_digest = cold.digest

    def _resume(self, run_id: str):
        self.man.invalidate("pairs")
        self.man.invalidate("clusters")
        t0 = time.perf_counter()
        res, status, _ = run_dedup_resumable(
            self.spark, self.files, CFG, self.root, run_id=run_id
        )
        out = res.clusters.toPandas()
        return time.perf_counter() - t0, res, status, out

    def step(self, i: int, traced: bool) -> StepResult:
        if traced:
            self.spark.sparkContext.setJobGroup(f"{self.name}-t{i}:step", "perfbench")
        wall, res, status, out = self._resume(f"step{i}")
        if traced:
            self._traced(i, wall)
            self.last_trace = (f"step{i}", res)
        r = self.check(out, self.truth)
        want = {s: "cached" for s in STAGES[:3]} | {s: "computed" for s in STAGES[3:]}
        if status != want:
            r.problems.append(f"resume status {status}")
        if r.digest != self.cold_digest:
            r.problems.append("resumed clusters differ from the cold pass")
        r.wall_s, r.traced = wall, traced
        return r

    def own_layers(self) -> dict[str, float]:
        """plans.manifest figures: the cold pass's stage writes, and the
        traced resume's wall outside its two stage rewrites."""
        m = self.man.stage_metrics().toPandas()
        out = {}
        for row in m[m["run_id"] == "cold"].itertuples():
            out[f"manifest.{row.stage}.write_s"] = float(row.wall_s)
            out[f"manifest.{row.stage}.bytes"] = int(row.bytes)
            out[f"manifest.{row.stage}.part_files"] = int(row.n_part_files)
        run_id = self.last_trace[0]
        rewritten = float(m[m["run_id"] == run_id]["wall_s"].sum())
        out["manifest.resume_read_s"] = self.trace_wall - rewritten
        return out

    def finish_trace(self):
        self.layer.update(self.own_layers())
        self.layer.update(funnel_counts(self.spark, self.last_trace[1]))
        self.layer["ingest.bytes_in"] = _du(os.path.join(self.scratch, "input"))
        return []


class Stream(Workload):
    """Planted files in shuffled micro-batches through process_batch. Set-up
    pre-fills the store; each step folds in the next batch."""

    name = "stream"
    same_input_each_step = False

    def setup(self) -> None:
        p = self.params
        n = (p["prefill"] + p["steps"]) * p["batch"]
        corpus = inputs.shuffled(
            inputs.planted(self.seed, p["n_clusters"], p["n_distractors"]), self.seed
        )
        if len(corpus.files) < n:
            raise ValueError("stream corpus smaller than its batches")
        files = corpus.files.iloc[:n]
        ids = _file_ids(self.spark, files)
        self.all_truth = make_truth(ids, corpus.group[:n], files["content"])
        cuts = range(0, n, p["batch"])
        self.batch_ids = [ids[c : c + p["batch"]] for c in cuts]
        self.batches = [
            _write_files(
                self.spark, files.iloc[c : c + p["batch"]],
                os.path.join(self.scratch, f"batch{k}"),
            )
            for k, c in enumerate(cuts)
        ]
        self.store_root = os.path.join(self.scratch, "store")
        self.store = DedupStore(self.spark, self.store_root)
        for b in range(p["prefill"]):
            process_batch(self.spark, self.batches[b], self.store, CFG, b)
        self.walls: list[float] = []

    def exercise_steps(self) -> int:
        return self.params["steps"]

    def step(self, i: int, traced: bool) -> StepResult:
        b = self.params["prefill"] + i
        if traced:
            self.spark.sparkContext.setJobGroup(f"{self.name}-t{i}:step", "perfbench")
        t0 = time.perf_counter()
        process_batch(self.spark, self.batches[b], self.store, CFG, b)
        wall = time.perf_counter() - t0
        self.walls.append(wall)
        if traced:
            self._traced(i, wall)
        seen = np.concatenate(self.batch_ids[: b + 1])
        r = self.check(self.store.clusters().toPandas(), subset(self.all_truth, seen))
        r.wall_s, r.traced = wall, traced
        return r

    def own_layers(self) -> dict[str, float]:
        """streaming.incremental figures: batch walls early vs late in the
        batches after the pre-fill, and the store's size per directory."""
        half = len(self.walls) // 2
        early = statistics.median(self.walls[:half])
        late = statistics.median(self.walls[half:])
        out = {
            "stream.batch_s.early": early,
            "stream.batch_s.late": late,
            "stream.late_early_ratio": late / early,
            "stream.state_rows": self.store.state().count(),
        }
        edges = self.store.edges()
        out["stream.edges_rows"] = 0 if edges is None else edges.count()
        for d in STORE_DIRS:
            out[f"stream.store_bytes.{d}"] = _du(os.path.join(self.store_root, d))
        return out

    def finish_trace(self):
        self.layer.update(self.own_layers())
        return []


WORKLOADS = {w.name: w for w in (Planted, LongDoc)}

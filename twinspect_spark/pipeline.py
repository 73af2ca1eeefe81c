"""End-to-end dedup pipeline: files → signatures → candidates → verified
pairs → clusters.

The stage graph is declared once, in ``stage_graph`` (SURVEY.md §7):

    files ──ingest──► ingested ──collapse exact dups──► reps, exact_edges
      reps ──pandas UDF──► signatures
      signatures ──LSH bands + SimHash chunks, one bucket self-join──►
        capped buckets ──pair dedupe + MinHash estimate──► candidates
      candidates ──verify (cheap→expensive)──► pairs
      pairs(verified) ──CC──► rep clusters; exact-dup members inherit
        their rep's label ──► clusters

Two cut strategies run it, and differ only in how a stage boundary
materializes:

- ``run_dedup`` cuts in memory with ``localCheckpoint``;
- ``plans/manifest.run_dedup_resumable`` cuts at durable parquet
  checkpoints and serves completed stages from them on restart.

Two stage-name sets are fixed by the benchmark (perfbench/): the
``stage_hook`` names ``ingest, signatures, buckets, candidates, verify,
cluster``, fired in that order (perfbench attributes Spark jobs to
stages by them), and the durable cut names ``manifest.STAGES`` =
``ingested, signatures, candidates, pairs, clusters`` (the resume check
compares its status against exactly these).

The reference runs the analogous stages imperatively per benchmark
(twinspect/__main__.py:42-63); here each stage is a declarative plan and
Catalyst owns the physical strategy.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame

from twinspect_spark.config import DedupConfig
from twinspect_spark.ingest import ingest_files
from twinspect_spark.operators.buckets import unified_candidates
from twinspect_spark.operators.cc import connected_components
from twinspect_spark.operators.exact import collapse_exact_dups
from twinspect_spark.operators.verify import (
    estimate_filter_candidates,
    verify_pairs,
)
from twinspect_spark.signatures import compute_signatures


@dataclass
class DedupResult:
    ingested: DataFrame
    signatures: DataFrame
    candidates: DataFrame
    pairs: DataFrame
    clusters: DataFrame
    stage_seconds: dict[str, float]  # hook name -> span seconds


def stage_graph(
    files: DataFrame,
    cfg: DedupConfig,
    cut: Callable[[str, Callable[[], DataFrame]], DataFrame],
    stage_hook: Callable[[str], None] | None = None,
) -> DedupResult:
    """The dedup stage chain, declared once for every cut strategy.

    ``cut(stage, build)`` materializes one stage boundary: it returns
    the frame downstream stages read, calling ``build()`` only when it
    computes the stage. Cut names are ``manifest.STAGES`` plus
    ``exact_edges``, which only the in-memory cut materializes.
    ``mark(name)`` ends the span since the previous mark, records it in
    ``stage_seconds`` under the hook name and fires ``stage_hook(name)``;
    the ``buckets`` mark sits inside the candidates build, so it fires
    only when that stage computes.
    """
    stage_seconds: dict[str, float] = {}
    t_prev = time.perf_counter()

    def mark(name: str) -> None:
        nonlocal t_prev
        stage_seconds[name] = round(time.perf_counter() - t_prev, 2)
        if stage_hook is not None:
            stage_hook(name)  # e.g. bench REST-metrics snapshots
        t_prev = time.perf_counter()  # the hook's own time is no stage's

    ingested = cut("ingested", lambda: ingest_files(files, cfg))
    reps, exact_edges = collapse_exact_dups(ingested)
    # the exact-edge subtree (narrow groupBy(sha256) + join) is consumed
    # only by the cluster stage; left lazy in memory it re-executes
    # THERE, inflating the near-fixed cluster cut that the scaling
    # composite is most sensitive to (round-4 floors: cluster 6.9 s
    # local[2] / 5.3 s local[8]). The in-memory cut materializes it
    # here, inside the ingest+exact-collapse span, where its cost
    # belongs; the durable cut keeps it lazy, so a fully cached resume
    # computes nothing.
    exact_edges = cut("exact_edges", lambda: exact_edges)
    mark("ingest")

    # The signatures cut stays a ROW-format localCheckpoint, measured
    # (round 3, 1M files, local[8], best-of-2): the bucket-explode
    # consumer reads ALL the wide columns and pays columnar-cache decode
    # + GC dearly — capped_bucket_table over checkpoint rows 33.3 s vs
    # 43.0 s over a compressed InMemoryRelation (156 s of GC in the full
    # candbench) and 81.9 s uncompressed (spills). The cache's
    # column-pruning upside for the estimate stage's narrow joins is
    # captured instead by a narrow side-checkpoint inside
    # estimate_filter_candidates.
    signatures = cut("signatures", lambda: compute_signatures(reps, cfg))
    mark("signatures")

    def candidates() -> DataFrame:
        # LSH bands and SimHash chunks generate candidates through ONE
        # unified bucket self-join (operators/buckets.py) — one sizes
        # aggregation, one cap, one join, one SO3 pair-dedupe — instead
        # of two parallel shuffle chains. Pair-dedup happens BEFORE the
        # MinHash-estimate filter joins signature arrays onto distinct
        # pairs (see estimate_filter_candidates for the cost asymmetry),
        # so only est-filtered survivors are materialized. The packed
        # MinHash prefix gate runs inside the bucket self-join, its one
        # site.
        deduped = unified_candidates(signatures, cfg)
        # the capped bucket table materializes eagerly inside
        # unified_candidates — attribute it, or it vanishes from the
        # stage table while still inflating wall (round-3 lesson)
        mark("buckets")
        return estimate_filter_candidates(deduped, signatures, cfg)

    candidates = cut("candidates", candidates)
    mark("candidates")
    pairs = cut("pairs", lambda: verify_pairs(candidates, ingested, cfg))
    mark("verify")
    # CC runs on the REPRESENTATIVE graph only (pair edges are rep-to-rep
    # by construction); exact-dup members inherit their rep's label (see
    # connected_components). Vertices come from the SIGNATURES cut, not
    # the lazy `reps` relation — reps re-derives the groupBy(sha256)+join
    # subtree over the ingest cut on every consumer; signatures holds
    # exactly one row per representative and is already materialized.
    clusters = cut(
        "clusters",
        lambda: connected_components(
            pairs.where("verified").select("a", "b"),
            vertices=signatures.select("file_id"),
            members=exact_edges,
        ),
    )
    mark("cluster")
    return DedupResult(
        ingested, signatures, candidates, pairs, clusters, stage_seconds
    )


def run_dedup(
    files: DataFrame,
    cfg: DedupConfig | None = None,
    stage_hook: Callable[[str], None] | None = None,
) -> DedupResult:
    """Full pipeline over files(repo, path, commit, lang, content): the
    stage_graph with every boundary cut by ``localCheckpoint``, so
    downstream plans read the materialized result instead of inlining
    the upstream subtree. One fused mega-plan re-executes shared
    subtrees (signatures feed 4 consumers; measured 172 s fused vs ~20 s
    staged at SF=0.1), and AQE only sees real row counts / sizes at
    materialized boundaries (broadcast decisions, skew splits).
    ``stage_hook(name)`` fires at each stage end (see stage_graph).
    """

    def cut(stage: str, build: Callable[[], DataFrame]) -> DataFrame:
        df = build()
        # clusters need no cut: connected_components returns them either
        # driver-built, with no upstream lineage (a localCheckpoint would
        # only re-serialize 260k driver rows through parallelize,
        # measured ~1.4-3.0 s), or checkpointed by the distributed loop
        return df if stage == "clusters" else df.localCheckpoint()

    return stage_graph(files, cfg or DedupConfig(), cut, stage_hook)

"""End-to-end dedup pipeline: files → signatures → candidates → verified
pairs → clusters.

Stage graph (each stage a checkpointable DataFrame, SURVEY.md §7):

    files ──ingest──► ingested ──collapse exact dups──► reps
      reps ──pandas UDF──► signatures
      signatures ──LSH bands──► cand_lsh ─┐
      signatures ──SimHash chunks──► cand_sim ─┤──union+distinct──► candidates
      candidates ──verify (cheap→expensive)──► pairs
      pairs(verified) ──CC──► rep clusters; exact-dup members inherit
        their rep's label ──► clusters

The reference runs the analogous stages imperatively per benchmark
(twinspect/__main__.py:42-63); here each stage is a declarative plan and
Catalyst owns the physical strategy.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    stage_seconds: dict[str, float] | None = None  # when stages materialized


def run_dedup(
    files: DataFrame,
    cfg: DedupConfig | None = None,
    materialize_stages: bool = True,
    stage_hook=None,
) -> DedupResult:
    """Full pipeline over files(repo, path, commit, lang, content).

    Stage materialization (``materialize_stages``, default on) cuts each
    stage boundary with ``localCheckpoint``: downstream plans read the
    materialized result instead of inlining the upstream subtree. This is
    load-bearing twice over —
      * correctness of cost: one fused mega-plan re-executes shared
        subtrees (signatures feed 4 consumers; measured 172 s fused vs
        ~20 s staged at SF=0.1), and AQE only sees real row counts /
        sizes at materialized boundaries (broadcast decisions, skew
        splits);
      * it is the in-memory twin of the parquet stage-checkpoint manifest
        (plans/manifest.py) that gives the production pipeline
        restartability — same cut points, durable medium.
    """
    cfg = cfg or DedupConfig()
    stage_seconds: dict[str, float] = {}

    def cut(df: DataFrame, stage: str = "") -> DataFrame:
        if not materialize_stages:
            return df
        t0 = time.perf_counter()
        out = df.localCheckpoint()  # eager: materializes the stage now
        if stage:
            stage_seconds[stage] = round(time.perf_counter() - t0, 2)
            if stage_hook is not None:
                stage_hook(stage)  # e.g. bench REST-metrics snapshots
        return out

    # The signatures cut stays a ROW-format localCheckpoint, measured
    # (round 3, 1M files, local[8], best-of-2): the bucket-explode
    # consumer reads ALL the wide columns and pays columnar-cache decode
    # + GC dearly — capped_bucket_table over checkpoint rows 33.3 s vs
    # 43.0 s over a compressed InMemoryRelation (156 s of GC in the full
    # candbench) and 81.9 s uncompressed (spills). The cache's
    # column-pruning upside for the estimate stage's narrow joins is
    # captured instead by a narrow side-checkpoint inside
    # estimate_filter_candidates(materialize=True).
    t0 = time.perf_counter()
    ingested = ingest_files(files, cfg)
    if materialize_stages:
        ingested = ingested.localCheckpoint()
    reps, exact_edges = collapse_exact_dups(ingested)
    if materialize_stages:
        # the exact-edge subtree (narrow groupBy(sha256) + join) is
        # consumed only by the cluster stage; left lazy it re-executes
        # THERE, inflating the near-fixed cluster cut that the scaling
        # composite is most sensitive to (round-4 floors: cluster 6.9 s
        # local[2] / 5.3 s local[8]). Materialize it here, inside the
        # ingest+exact-collapse stage window, where its cost belongs.
        exact_edges = exact_edges.localCheckpoint()
        stage_seconds["ingest"] = round(time.perf_counter() - t0, 2)
        if stage_hook is not None:
            stage_hook("ingest")
    signatures = cut(compute_signatures(reps, cfg), "signatures")

    # LSH bands and SimHash chunks generate candidates through ONE
    # unified bucket self-join (operators/buckets.py) — one sizes
    # aggregation, one cap, one join, one SO3 pair-dedupe — instead of
    # two parallel shuffle chains. Pair-dedup happens BEFORE the
    # MinHash-estimate filter joins signature arrays onto distinct pairs
    # (see estimate_filter_candidates for the cost asymmetry), so only
    # est-filtered survivors are materialized.
    # The packed MinHash prefix gate runs inside the bucket self-join
    # (unified_candidates prefix_gate) — the pair stream entering the
    # dedupe shuffle is already est-plausible, so the estimate filter
    # joins full signatures onto survivors only (pre_gated skips its
    # redundant HOF gate).
    t0 = time.perf_counter()
    deduped = unified_candidates(
        signatures, cfg, materialize=materialize_stages
    )
    if materialize_stages:
        # the capped bucket table materializes eagerly inside
        # unified_candidates — attribute it, or it vanishes from the
        # stage table while still inflating wall (round-3 lesson)
        stage_seconds["buckets"] = round(time.perf_counter() - t0, 2)
        if stage_hook is not None:
            stage_hook("buckets")
    candidates = cut(
        estimate_filter_candidates(
            deduped, signatures, cfg, pre_gated=True,
            materialize=materialize_stages,
        ),
        "candidates",
    )

    pairs = cut(verify_pairs(candidates, ingested, cfg), "verify")
    t0 = time.perf_counter()
    # CC runs on the REPRESENTATIVE graph only (pair edges are rep-to-rep
    # by construction); exact-dup members inherit their rep's label (see
    # connected_components). Vertices come from the SIGNATURES
    # checkpoint, not the lazy `reps` relation — reps re-derives the
    # groupBy(sha256)+join subtree over the ingest checkpoint on every
    # consumer; signatures holds exactly one row per representative and
    # is already materialized. The result needs no cut: it is either
    # driver-built, with no upstream lineage (a localCheckpoint would
    # only re-serialize 260k driver rows through parallelize, measured
    # ~1.4-3.0 s), or checkpointed by the distributed loop.
    clusters = connected_components(
        pairs.where("verified").select("a", "b"),
        vertices=(signatures if materialize_stages else reps).select(
            "file_id"
        ),
        members=exact_edges,
    )
    if materialize_stages:
        stage_seconds["cluster"] = round(time.perf_counter() - t0, 2)
        if stage_hook is not None:
            stage_hook("cluster")
    return DedupResult(
        ingested, signatures, candidates, pairs, clusters,
        stage_seconds or None,
    )

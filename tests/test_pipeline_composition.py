"""Continuous-ingestion composition: the crawl-frontier seen-store
(streaming/frontier.py, ETag-level exact dedupe) feeding the
incremental near-dup store (streaming/incremental.py) — the stacked
shape a real pipeline runs: drop byte-identical re-crawls BEFORE
signatures, near-dup cluster the survivors. Proves the two stores
compose: frontier admits each content exactly once across batches, and
the incremental clusters over the admitted stream equal a one-shot
batch run over the same survivor set."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from twinspect_spark.config import DedupConfig
from twinspect_spark.corpus import generate_corpus
from twinspect_spark.pipeline import run_dedup
from twinspect_spark.streaming.frontier import FrontierStore
from twinspect_spark.streaming.incremental import DedupStore, process_batch

CFG = DedupConfig(jaccard_threshold=0.6)


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(
        n_clusters=8, transforms_per_original=2, n_distractors=12,
        n_exact_dups=3, seed=11,
    )


def _arrivals(corpus, i, n=3):
    """Chunk i of the corpus plus crawl noise: mirror copies of its own
    first rows (same content, second path — intra-batch dups) and, for
    later batches, re-crawls of batch-0 rows (cross-batch dups)."""
    chunk = corpus.files.iloc[i::n]
    mirrors = chunk.head(4).copy()
    mirrors["path"] = "mirror/" + mirrors["path"]
    parts = [chunk, mirrors]
    if i > 0:
        recrawl = corpus.files.iloc[0::n].head(3).copy()
        recrawl["path"] = f"recrawl{i}/" + recrawl["path"]
        parts.append(recrawl)
    return pd.concat(parts, ignore_index=True)


def test_frontier_feeds_incremental_dedup(spark, corpus, tmp_path_factory):
    frontier = FrontierStore(
        spark, str(tmp_path_factory.mktemp("frontier")),
        m_bits=1 << 14, k=4, n_shards=4,
    )
    dedup = DedupStore(spark, str(tmp_path_factory.mktemp("dedup")))
    n_batches = 3
    survivors_frames = []
    for i in range(n_batches):
        arrivals = spark.createDataFrame(_arrivals(corpus, i, n_batches))
        keyed = arrivals.withColumn("etag", F.sha2("content", 256))
        # classify against pre-batch state, then admit
        verdicts = frontier.classify(keyed).localCheckpoint()
        frontier.process_batch(keyed, batch_id=i)
        # survivors: one representative arrival per unseen etag
        # (min path = deterministic first-arrival stand-in)
        fresh = verdicts.where("NOT truly_seen").select("etag")
        survivors = (
            keyed.join(fresh, "etag", "left_semi")
            .groupBy("etag")
            .agg(
                F.min_by(
                    F.struct("repo", "path", "commit", "lang", "content"),
                    "path",
                ).alias("r")
            )
            .select("r.*")
        ).localCheckpoint()
        survivors_frames.append(survivors)
        process_batch(spark, survivors, dedup, CFG, batch_id=i)

    # every content admitted exactly once across all batches + noise
    all_surv = survivors_frames[0]
    for s in survivors_frames[1:]:
        all_surv = all_surv.unionByName(s)
    n_contents = (
        spark.createDataFrame(corpus.files)
        .select(F.sha2("content", 256)).distinct().count()
    )
    assert all_surv.count() == n_contents
    assert (
        all_surv.select(F.sha2("content", 256)).distinct().count()
        == n_contents
    )

    # incremental clusters over the admitted stream == one-shot batch
    # run over the same survivor set
    batch = run_dedup(all_surv, CFG)
    want = {r["file_id"]: r["cluster_id"] for r in batch.clusters.collect()}
    got = {r["file_id"]: r["cluster_id"] for r in dedup.clusters().collect()}
    assert got == want
    # the near-dup transforms still cluster (frontier only removed
    # byte-identical noise, not similarity structure)
    from collections import Counter

    sizes = Counter(Counter(want.values()).values())
    assert sizes.get(3, 0) >= 6  # 1 original + 2 transforms per cluster

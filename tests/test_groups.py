"""largest_similar_group (A9): greedy all-pairwise-similar subgroup per
cluster via applyInPandas."""

from __future__ import annotations

import pytest

from twinspect_spark.config import DedupConfig
from twinspect_spark.operators.groups import largest_similar_group

CFG = DedupConfig(jaccard_threshold=0.6)


def test_outlier_dropped_core_kept(spark):
    base = (
        "def compute_totals(values):\n"
        "    total = 0\n"
        "    for v in values:\n"
        "        total += v * weight_factor(v)\n"
        "    return total\n"
        "def weight_factor(v):\n"
        "    return 1.0 if v > 0 else 0.5\n"
    )
    v1 = base + "# appended comment\n"  # high overlap variant
    outlier = "class Unrelated:\n    pass\n" * 3
    df = spark.createDataFrame(
        [
            (1, 100, base.lower()),
            (2, 100, v1.lower()),
            (3, 100, outlier.lower()),
            (9, 200, "solo file".lower()),
        ],
        "file_id long, cluster_id long, content_norm string",
    )
    out = largest_similar_group(df, CFG)
    rows = {(r["cluster_id"], r["file_id"]): r["group_size"] for r in out.collect()}
    assert (100, 1) in rows and (100, 2) in rows
    assert (100, 3) not in rows  # outlier excluded
    assert rows[(100, 1)] == 2
    assert rows[(200, 9)] == 1  # singleton cluster passes through


def test_giant_cluster_capped_bounded(spark):
    """A pathological mega-cluster (5k members) cannot pin an executor in
    the O(n²) kernel: input is capped at cfg.chain_bucket_size members
    (lowest file_id), so the group and its size are bounded by the cap
    and the call completes in bounded time."""
    import time

    rows = [
        (i, 1, f"unique content body number {i} with filler text " * 3)
        for i in range(5000)
    ]
    df = spark.createDataFrame(
        rows, "file_id long, cluster_id long, content_norm string"
    ).repartition(4)
    t0 = time.perf_counter()
    out = largest_similar_group(df, CFG).collect()
    assert time.perf_counter() - t0 < 120  # bounded, not O(5000²) scalar
    assert 1 <= len(out) <= CFG.chain_bucket_size
    assert all(r["group_size"] <= CFG.chain_bucket_size for r in out)
    # deterministic: kept members come from the lowest-file_id slice
    assert all(r["file_id"] < CFG.chain_bucket_size for r in out)


def test_full_pipeline_groups(spark):
    """Over planted clusters, the kept group is the whole cluster (all
    transforms stay similar to the original)."""
    from twinspect_spark.corpus import generate_corpus
    from twinspect_spark.pipeline import run_dedup

    corpus = generate_corpus(n_clusters=8, transforms_per_original=2, seed=6)
    res = run_dedup(spark.createDataFrame(corpus.files), CFG)
    clustered = res.ingested.select("file_id", "content_norm").join(
        res.clusters, "file_id"
    )
    out = largest_similar_group(clustered, CFG, threshold=0.5)
    assert out.count() >= clustered.count() * 0.8
    sizes = {
        r["cluster_id"]: r["group_size"]
        for r in out.select("cluster_id", "group_size").distinct().collect()
    }
    # at least one true multi-member group survived intact
    assert max(sizes.values()) >= 3

"""End-to-end pipeline vs the brute-force oracle on the planted-cluster
corpus — the dup-pair-recall ≥ 0.99 gate from BASELINE.md, plus the
per-row sha256 invariant (BASELINE.json input_hint) and exact-dup /
determinism checks."""

from __future__ import annotations

import hashlib

import pytest

from twinspect_spark.config import DedupConfig
from twinspect_spark.corpus import generate_corpus
from twinspect_spark.oracle import run_oracle
from twinspect_spark.pipeline import run_dedup

CFG = DedupConfig(jaccard_threshold=0.7)


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(n_clusters=30, transforms_per_original=3,
                           n_distractors=40, n_exact_dups=8, seed=7)


@pytest.fixture(scope="module")
def oracle(corpus):
    return run_oracle(corpus.files, CFG)


@pytest.fixture(scope="module")
def result(spark, corpus):
    files = spark.createDataFrame(corpus.files)
    return run_dedup(files, CFG)


@pytest.fixture(scope="module")
def key_maps(result, oracle):
    """(repo,path,commit) → spark file_id and → oracle file_id."""
    spark_ids = {
        (r["repo"], r["path"], r["commit"]): r["file_id"]
        for r in result.ingested.select("repo", "path", "commit", "file_id").collect()
    }
    oracle_ids = {
        (r.repo, r.path, r.commit): r.file_id
        for r in oracle.rows.itertuples(index=False)
    }
    return spark_ids, oracle_ids


def test_sha256_invariant(result, corpus):
    """Per-row invariant vs reference ingest: sha256(content) equality."""
    got = {
        (r["repo"], r["path"], r["commit"]): r["sha256"]
        for r in result.ingested.select("repo", "path", "commit", "sha256").collect()
    }
    for row in corpus.files.itertuples(index=False):
        expect = hashlib.sha256(row.content.encode()).hexdigest()
        assert got[(row.repo, row.path, row.commit)] == expect


def test_signature_parity_with_oracle(result, oracle, key_maps):
    """Spark pandas-UDF signatures == oracle scalar signatures, row by row."""
    spark_ids, oracle_ids = key_maps
    sig_by_id = {
        r["file_id"]: (r["minhash"], r["simhash"])
        for r in result.signatures.select("file_id", "minhash", "simhash").collect()
    }
    checked = 0
    for r in oracle.rows.itertuples(index=False):
        key = (r.repo, r.path, r.commit)
        sid = spark_ids[key]
        if sid not in sig_by_id:   # exact-dup non-representatives skipped
            continue
        mh, sim = sig_by_id[sid]
        assert list(mh) == list(r.minhash), f"minhash mismatch at {key}"
        assert sim == r.simhash, f"simhash mismatch at {key}"
        checked += 1
    assert checked > 50


def _spark_cluster_by_oracle_id(result, key_maps):
    spark_ids, oracle_ids = key_maps
    sid_to_cluster = {
        r["file_id"]: r["cluster_id"]
        for r in result.clusters.collect()
    }
    return {
        oracle_ids[key]: sid_to_cluster[sid] for key, sid in spark_ids.items()
    }


def test_dup_pair_recall_ge_099(result, oracle, key_maps):
    """≥99% of oracle dup pairs (exact Jaccard ≥ threshold, plus exact
    dups) end up in the same Spark cluster."""
    cluster_of = _spark_cluster_by_oracle_id(result, key_maps)
    want = oracle.dup_pairs | oracle.exact_pairs
    assert want, "oracle found no dup pairs — corpus broken"
    hit = sum(1 for a, b in want if cluster_of[a] == cluster_of[b])
    recall = hit / len(want)
    assert recall >= 0.99, f"recall {recall:.4f} over {len(want)} pairs"


def test_cluster_precision(result, oracle, key_maps):
    """No Spark cluster merges files the oracle puts in different
    components (precision of the transitive clustering)."""
    cluster_of = _spark_cluster_by_oracle_id(result, key_maps)
    ids = sorted(cluster_of)
    spark_groups: dict[int, list[int]] = {}
    for oid in ids:
        spark_groups.setdefault(cluster_of[oid], []).append(oid)
    bad = 0
    total = 0
    for members in spark_groups.values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                total += 1
                if oracle.clusters[a] != oracle.clusters[b]:
                    bad += 1
    if total:
        assert bad / total <= 0.01, f"{bad}/{total} cross-component merges"


def test_pipeline_deterministic_under_repartition(spark, corpus):
    """Same input, different partitioning → identical clusters partition
    (SURVEY.md §5 invariant tests)."""
    files1 = spark.createDataFrame(corpus.files).repartition(2)
    files2 = spark.createDataFrame(corpus.files).repartition(11, "path")
    c1 = {r["file_id"]: r["cluster_id"] for r in run_dedup(files1, CFG).clusters.collect()}
    c2 = {r["file_id"]: r["cluster_id"] for r in run_dedup(files2, CFG).clusters.collect()}
    assert c1 == c2


def test_exact_copies_without_pair_edges(spark):
    """Exact-copy edges but no verified pair edge: the driver-side cluster
    assembly must not index the empty pair-label array."""
    text = "def f(x):\n    return x + 1\n" * 20
    other = "class Unrelated:\n    value = 'nothing in common'\n" * 20
    files = spark.createDataFrame(
        [
            ("r1", "a.py", "c1", "python", text),
            ("r2", "a.py", "c1", "python", text),
            ("r3", "b.py", "c1", "python", other),
        ],
        "repo string, path string, commit string, lang string,"
        " content string",
    )
    res = run_dedup(files, CFG)
    repo_of = {
        r["file_id"]: r["repo"]
        for r in res.ingested.select("file_id", "repo").collect()
    }
    cluster_of = {
        repo_of[r["file_id"]]: r["cluster_id"] for r in res.clusters.collect()
    }
    assert res.clusters.count() == 3
    assert cluster_of["r1"] == cluster_of["r2"] != cluster_of["r3"]


def _canon(df):
    cols = sorted(df.columns)
    return sorted(
        [tuple(r[c] for c in cols) for r in df.select(*cols).collect()],
        key=repr,
    )


def test_pair_kernels_run_on_shuffle_partitions(spark, result):
    """A 1-partition candidate relation reaches both Python pair kernels
    as spark.sql.shuffle.partitions partitions, and their output rows do
    not depend on that count."""
    from twinspect_spark.operators.verify import (
        estimate_filter_candidates,
        verify_pairs,
    )

    cands = result.candidates.select("a", "b").coalesce(1)
    assert cands.count() > 10
    conf = spark.conf
    base_parts = conf.get("spark.sql.shuffle.partitions")
    outs = []
    try:
        for n in (1, 4, 7):
            conf.set("spark.sql.shuffle.partitions", str(n))
            est = estimate_filter_candidates(cands, result.signatures, CFG)
            ver = verify_pairs(cands, result.ingested, CFG)
            # a map kernel's output keeps its input's partitions
            assert est.rdd.getNumPartitions() == n
            assert ver.rdd.getNumPartitions() == n
            outs.append((_canon(est), _canon(ver)))
    finally:
        conf.set("spark.sql.shuffle.partitions", base_parts)
    assert outs[0][0] and outs[0][1]
    assert outs[0] == outs[1] == outs[2]


@pytest.mark.parametrize("max_driver_edges", [None, 0])
@pytest.mark.parametrize("with_pairs", [True, False])
def test_cluster_stage_paths(spark, max_driver_edges, with_pairs):
    """cluster_with_members on the driver path and the forced distributed
    path, with and without verified pair edges."""
    from twinspect_spark.operators.cc import cluster_with_members

    pairs = [(1, 2), (2, 3), (10, 11)] if with_pairs else []
    clusters, _ = cluster_with_members(
        spark.createDataFrame(pairs, "a long, b long"),
        vertices=spark.createDataFrame(
            [(v,) for v in (1, 2, 3, 10, 11, 50, 60)], "file_id long"
        ),
        exact_edges=spark.createDataFrame(
            [(1, 100), (50, 51)], "a long, b long"
        ),
        max_driver_edges=max_driver_edges,
    )
    got = {r["file_id"]: r["cluster_id"] for r in clusters.collect()}
    want = {v: v for v in (1, 2, 3, 10, 11, 50, 60)}
    want.update({100: 1, 51: 50})
    if with_pairs:
        want.update({2: 1, 3: 1, 11: 10})
    assert got == want

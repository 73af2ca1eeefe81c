"""Checkpoint-resume semantics (SURVEY.md §7 hard part 5): a resumed run
serves completed stages from parquet without recompute, recomputes only
invalidated stages, and produces byte-identical cluster assignments."""

from __future__ import annotations

import pytest

from twinspect_spark.config import DedupConfig
from twinspect_spark.corpus import generate_corpus
from twinspect_spark.plans.manifest import STAGES, run_dedup_resumable

CFG = DedupConfig(jaccard_threshold=0.6)


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(n_clusters=15, transforms_per_original=2, seed=11)


def _clusters_map(res):
    return {
        r["file_id"]: r["cluster_id"] for r in res.clusters.collect()
    }


def test_cold_then_warm_then_partial_resume(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ckpt"))
    files = spark.createDataFrame(corpus.files)

    res1, status1, man = run_dedup_resumable(spark, files, CFG, root)
    assert all(v == "computed" for v in status1.values())
    cold = _clusters_map(res1)
    assert cold, "pipeline produced no clusters"

    # warm: every stage served from checkpoint
    res2, status2, _ = run_dedup_resumable(spark, files, CFG, root)
    assert all(v == "cached" for v in status2.values())
    assert _clusters_map(res2) == cold

    # partial: invalidate pairs + clusters → only those recompute
    man.invalidate("pairs")
    man.invalidate("clusters")
    res3, status3, _ = run_dedup_resumable(spark, files, CFG, root)
    assert status3 == {
        "ingested": "cached",
        "signatures": "cached",
        "candidates": "cached",
        "pairs": "computed",
        "clusters": "computed",
    }
    assert _clusters_map(res3) == cold


def test_lineage_and_stage_metrics(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ckpt2"))
    files = spark.createDataFrame(corpus.files)
    res, _, man = run_dedup_resumable(spark, files, CFG, root)

    stages = {r["stage"]: r for r in man.stage_metrics().collect()}
    assert set(stages) == set(STAGES)
    assert stages["ingested"]["rows"] == len(corpus.files)
    assert stages["clusters"]["rows"] == res.clusters.count()
    for r in stages.values():
        assert r["bytes"] > 0 and r["wall_s"] > 0 and r["n_part_files"] >= 1

    # per-partition lineage sums to the stage totals
    lin = (
        man.lineage()
        .groupBy("stage")
        .agg({"rows": "sum", "part_file": "count"})
        .collect()
    )
    for row in lin:
        assert row["sum(rows)"] == stages[row["stage"]]["rows"]
        assert row["count(part_file)"] == stages[row["stage"]]["n_part_files"]


def test_config_change_invalidates_key(spark, corpus, tmp_path_factory):
    """A different config fingerprint must not reuse checkpoints."""
    root = str(tmp_path_factory.mktemp("ckpt3"))
    files = spark.createDataFrame(corpus.files)
    _, s1, _ = run_dedup_resumable(spark, files, CFG, root)
    other = DedupConfig(jaccard_threshold=0.9)
    _, s2, _ = run_dedup_resumable(spark, files, other, root)
    assert all(v == "computed" for v in s2.values())


def test_durable_run_is_catalog_free(spark, corpus, tmp_path_factory):
    """Every stage checkpoint, signatures included, is plain parquet: a
    cold run and a resume register no catalog table, and reading a
    stage back is a plain parquet read of its path."""
    root = str(tmp_path_factory.mktemp("ckpt4"))
    files = spark.createDataFrame(corpus.files)

    def tables():
        return {t.name for t in spark.catalog.listTables()}

    before = tables()
    _, _, man = run_dedup_resumable(spark, files, CFG, root)
    man.invalidate("pairs")
    man.invalidate("clusters")
    _, status, _ = run_dedup_resumable(spark, files, CFG, root)
    assert status["signatures"] == "cached"
    assert not {t for t in tables() - before if t.startswith("ckpt_")}

    def rows(df):
        return sorted(repr(r) for r in df.collect())

    sigs = man.read("signatures")
    plain = spark.read.parquet(man.stage_path("signatures"))
    assert sigs.columns == plain.columns
    assert rows(sigs) == rows(plain)


def test_durable_path_matches_run_dedup(spark, corpus, tmp_path_factory):
    """run_dedup and run_dedup_resumable are two cuts over one
    stage_graph: identical signatures, candidates, pairs and clusters."""
    from twinspect_spark.pipeline import run_dedup

    def canon(df, drop=()):
        cols = sorted(c for c in df.columns if c not in drop)
        return sorted(
            tuple(r[c] for c in cols) for r in df.select(*cols).collect()
        )

    root = str(tmp_path_factory.mktemp("ckpt_same"))
    files = spark.createDataFrame(corpus.files)
    durable, _, _ = run_dedup_resumable(spark, files, CFG, root)
    batch = run_dedup(files, CFG)
    # micros is the signature UDF's per-row timing, not content
    assert canon(durable.signatures, ("micros",)) == canon(
        batch.signatures, ("micros",)
    )
    assert canon(durable.candidates) == canon(batch.candidates)
    assert canon(durable.pairs) == canon(batch.pairs)
    assert _clusters_map(durable) == _clusters_map(batch)


def test_durable_stage_seconds(spark, corpus, tmp_path_factory):
    """A cold durable run times every stage under the stage-hook names,
    so ``--checkpoint --report`` renders the stage-timings table."""
    from twinspect_spark.report import render_run_report

    root = str(tmp_path_factory.mktemp("ckpt_secs"))
    files = spark.createDataFrame(corpus.files)
    res, _, _ = run_dedup_resumable(spark, files, CFG, root)
    assert list(res.stage_seconds) == [
        "ingest", "signatures", "buckets", "candidates", "verify", "cluster"
    ]
    assert all(v >= 0 for v in res.stage_seconds.values())
    md = render_run_report("t", {}, stage_seconds=res.stage_seconds)
    assert "## Stage timings" in md


def test_cli_checkpoint_key_includes_input(spark, tmp_path):
    """The CLI keys --checkpoint by its input: a second corpus under the
    same root computes every stage and clusters its own files; the same
    input again is served from the checkpoints."""
    import argparse
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from twinspect_spark.__main__ import input_token

    root = str(tmp_path / "ckpt")

    def args_for(path, min_words=None):
        return argparse.Namespace(
            input=path, format="parquet", min_words=min_words,
            max_dup_bigram=None,
        )

    def run(seed):
        path = str(tmp_path / f"files_{seed}.parquet")
        if not os.path.exists(path):
            corpus = generate_corpus(
                n_clusters=3, transforms_per_original=1, n_distractors=6,
                n_exact_dups=2, seed=seed,
            )
            pd.DataFrame(
                corpus.files,
                columns=["repo", "path", "commit", "lang", "content"],
            ).to_parquet(path)
        files = spark.read.parquet(path)
        token = input_token(args_for(path), files)
        # the curation gate changes the input, so it changes the key
        assert input_token(args_for(path, min_words=5), files) != token
        res, status, _ = run_dedup_resumable(spark, files, CFG, root, token)
        want = {
            r[0] for r in files.select(
                F.xxhash64("repo", "path", "commit")
            ).collect()
        }
        return token, status, set(_clusters_map(res)), want

    tok_a, s_a, got_a, want_a = run(21)
    assert set(s_a.values()) == {"computed"} and got_a == want_a
    tok_b, s_b, got_b, want_b = run(22)
    assert tok_b != tok_a and want_b != want_a
    assert set(s_b.values()) == {"computed"}
    assert got_b == want_b
    tok_b2, s_b2, got_b2, _ = run(22)
    assert tok_b2 == tok_b and set(s_b2.values()) == {"cached"}
    assert got_b2 == want_b

"""Metrics-library tests: TwinSpect scoring semantics (SURVEY.md §2.6)
checked against a straightforward pandas re-implementation on small
hand-checkable inputs, plus robustness/dataset-info over the planted
synthetic corpus."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from twinspect_spark.metrics import (
    best_threshold,
    dataset_info,
    distance_distribution,
    effectiveness,
    robustness,
)


@pytest.fixture(scope="module")
def pair_world(spark):
    """5 items: gt pairs {(1,2),(1,3),(4,5)}; found pairs with distances."""
    gt = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "a long, b long"
    )
    found = spark.createDataFrame(
        [(1, 2, 0), (1, 3, 4), (2, 3, 6), (4, 5, 2), (3, 5, 9)],
        "a long, b long, distance int",
    )
    return gt, found


def _pandas_effectiveness(gt, found, thresholds):
    """Reference semantics (eff.py:219-290), naive loops."""
    gt_sym = {(q, o) for a, b in gt for q, o in ((a, b), (b, a))}
    found_sym = {}
    for a, b, d in found:
        found_sym[(a, b)] = d
        found_sym[(b, a)] = d
    queries = {q for q, _ in gt_sym} | {q for q, _ in found_sym}
    out = []
    for t in thresholds:
        ps, rs = [], []
        for q in queries:
            res = {o for (qq, o), d in found_sym.items() if qq == q and d <= t}
            truth = {o for qq, o in gt_sym if qq == q}
            tp = len(res & truth)
            if res:
                ps.append(tp / len(res))
            if truth:
                rs.append(tp / len(truth))
        p = sum(ps) / len(ps) if ps else None
        r = sum(rs) / len(rs) if rs else None
        f1 = (
            round(2 * round(p, 6) * round(r, 6) / (round(p, 6) + round(r, 6)), 6)
            if p and r and p + r > 0
            else 0.0
        )
        out.append((float(t), p, r, f1, len(ps), len(rs)))
    return out


def test_effectiveness_matches_pandas_oracle(spark, pair_world):
    gt, found = pair_world
    thresholds = [0.0, 2.0, 4.0, 6.0, 9.0]
    got = {
        row["threshold"]: row
        for row in effectiveness(gt, found, thresholds).collect()
    }
    want = _pandas_effectiveness(
        [(r.a, r.b) for r in gt.collect()],
        [(r.a, r.b, r.distance) for r in found.collect()],
        thresholds,
    )
    assert set(got) == {t for t, *_ in want}
    for t, p, r, f1, np_, nr in want:
        row = got[t]
        assert row["avg_precision"] == pytest.approx(round(p, 6), abs=1e-6)
        assert row["avg_recall"] == pytest.approx(round(r, 6), abs=1e-6)
        assert row["f1"] == pytest.approx(f1, abs=1e-6)
        assert row["n_queries_with_results"] == np_
        assert row["n_queries_with_gt"] == nr


def test_effectiveness_perfect_at_full_recall_threshold(spark, pair_world):
    """At a threshold admitting exactly the gt pairs and nothing else,
    precision and recall are both 1."""
    gt, _ = pair_world
    found = gt.withColumn("distance", gt.a * 0)  # all gt at distance 0
    row = effectiveness(gt, found, [0.0]).collect()[0]
    assert row["avg_precision"] == 1.0
    assert row["avg_recall"] == 1.0
    assert row["f1"] == 1.0
    assert row["std_precision"] == 0.0


def test_best_threshold_argmax_and_tiebreak(spark, pair_world):
    gt, found = pair_world
    eff = effectiveness(gt, found, [0.0, 2.0, 4.0, 6.0, 9.0])
    best = best_threshold(eff).collect()[0]
    rows = sorted(
        eff.collect(), key=lambda r: (-r["f1"], r["threshold"])
    )
    assert best["threshold"] == rows[0]["threshold"]
    assert best["f1"] == rows[0]["f1"]


def test_distance_distribution_split(spark):
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 4)], "file_id long, cluster_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0), (1, 3, 5), (3, 4, 5), (2, 3, 5)],
        "a long, b long, distance int",
    )
    got = {
        (r["kind"], r["distance"]): r["n_pairs"]
        for r in distance_distribution(pairs, clusters).collect()
    }
    assert got == {("intra", 0): 1, ("inter", 5): 3}


def test_robustness_per_transform(spark):
    files = spark.createDataFrame(
        pd.DataFrame(
            {
                "file_id": [1, 2, 3, 4, 5, 6],
                "cluster_id": [10, 10, 10, 20, 20, None],
                "transform": [None, "rename", "ws", None, "rename", None],
                "is_original": [True, False, False, True, False, False],
            }
        )
    )
    pairs = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1), (4, 5, 7)], "a long, b long, distance int"
    )
    got = {
        r["transform"]: r for r in robustness(files, pairs).collect()
    }
    assert got["rename"]["n_pairs"] == 2
    assert got["rename"]["min_distance"] == 3
    assert got["rename"]["max_distance"] == 7
    assert got["rename"]["avg_distance"] == 5.0
    assert got["ws"]["n_pairs"] == 1
    assert got["ws"]["avg_distance"] == 1.0


def test_robustness_on_synthetic_corpus(spark):
    """End-to-end: pipeline distances between originals and transforms
    must be near zero for whitespace edits (normalization kills them) and
    present for every planted transform."""
    from pyspark.sql import functions as F

    from twinspect_spark.corpus import generate_corpus
    from twinspect_spark.config import DedupConfig
    from twinspect_spark.pipeline import run_dedup

    corpus = generate_corpus(n_clusters=12, transforms_per_original=3, seed=3)
    cfg = DedupConfig(jaccard_threshold=0.5)
    res = run_dedup(spark.createDataFrame(corpus.files), cfg)
    ids = res.ingested.select("file_id", "repo", "path")
    labels = spark.createDataFrame(corpus.labels).join(
        ids, ["repo", "path"]
    ).select("file_id", "cluster_id", "transform", "is_original")
    pairs = res.pairs.withColumn(
        "distance", F.round(1 - F.col("jaccard"), 6)
    ).select("a", "b", "distance")
    rb = {r["transform"]: r for r in robustness(labels, pairs).collect()}
    assert rb, "no original↔transform pairs matched"
    for t, row in rb.items():
        assert 0.0 <= row["min_distance"] <= row["max_distance"] <= 1.0, t
    if "whitespace" in rb:
        assert rb["whitespace"]["max_distance"] <= 0.05


def test_dataset_info(spark):
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "file_id long, cluster_id long",
    )
    row = dataset_info(clusters).collect()[0]
    assert row["n_files"] == 6
    assert row["n_dup_clusters"] == 2
    assert row["min_cluster_size"] == 2
    assert row["max_cluster_size"] == 3
    assert row["avg_cluster_size"] == 2.5
    assert row["n_singletons"] == 1
    assert math.isclose(row["singleton_ratio"], 1 / 6, abs_tol=1e-6)


def test_run_report_renders_markdown(spark):
    """Report layer (reference render/results.py:230-273 analog):
    sections, stage table, truncation footer."""
    from twinspect_spark.report import df_to_markdown, render_run_report

    eff = spark.createDataFrame(
        [(0.0, 1.0, 0.5, 0.666667)],
        "threshold double, avg_precision double, avg_recall double, f1 double",
    )
    md = render_run_report(
        "dedup run",
        {"Effectiveness": eff},
        stage_seconds={"signatures": 1.5, "candidates": 2.0},
        config_fingerprint="deadbeef",
    )
    assert "# dedup run" in md
    assert "`deadbeef`" in md
    assert "| signatures | 1.5 |" in md
    assert "## Effectiveness" in md
    assert "| 0 | 1 | 0.5 | 0.666667 |" in md

    big = spark.range(0, 30).selectExpr("id")
    t = df_to_markdown(big, max_rows=10)
    assert "truncated at 10 rows" in t


def test_humanize_formatting(spark):
    """SF8 analog: big-number display formatting, opt-in per column."""
    from twinspect_spark.report import df_to_markdown, humanize

    assert humanize(950) == "950"
    assert humanize(1234567) == "1.23M"
    assert humanize(2_000_000_000) == "2B"
    assert humanize(-4.2e12) == "-4.2T"

    df = spark.createDataFrame([(1234567, 1234567)], "a long, b long")
    t = df_to_markdown(df, humanize_cols={"a"})
    assert "| 1.23M | 1234567 |" in t


def test_cluster_purity_hand_computed(spark):
    """Purity/inverse-purity on a hand-built contingency:
    pred P1={1,2,3} (gt A,A,B), P2={4,5} (gt B,B), P3={6} (gt C).
    purity = (2+2+1)/6; gt A={1,2} maj 2, B={3,4,5} maj 2, C={6} maj 1
    -> inverse = (2+2+1)/6."""
    from pyspark.sql import functions as F

    from twinspect_spark.metrics import cluster_purity

    pred = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 40), (5, 40), (6, 60)],
        "doc_id long, pred_id long",
    )
    gt = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 300), (4, 300), (5, 300), (6, 600)],
        "doc_id long, gt_id long",
    )
    r = cluster_purity(pred, gt).collect()[0]
    assert r.n_docs == 6
    assert r.n_pred_clusters == 3
    assert r.n_gt_clusters == 3
    assert abs(r.purity - 5 / 6) < 1e-6
    assert abs(r.inverse_purity - 5 / 6) < 1e-6
    assert abs(r.f_purity - 5 / 6) < 1e-6
    # perfect agreement => all 1.0
    perfect = cluster_purity(
        gt.select("doc_id", F.col("gt_id").alias("pred_id")), gt
    ).collect()[0]
    assert perfect.purity == 1.0
    assert perfect.inverse_purity == 1.0
    assert perfect.f_purity == 1.0

"""Candidate generation's decisions: the packed bucket-key limit checked
at config construction, and the one MinHash prefix gate, evaluated in
the bucket join (Spark, packed_prefix_frac) and checked here against a
numpy reference of its predicate."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from twinspect_spark.config import DedupConfig
from twinspect_spark.operators.verify import (
    ESTIMATE_MARGIN,
    packed_prefix_cols,
    packed_prefix_frac,
    prefix_gate_floor,
)


def test_packed_key_limit_fails_at_construction():
    with pytest.raises(ValueError, match="64 buckets"):
        DedupConfig(bands=128)


def _mh16(lanes: np.ndarray) -> np.ndarray:
    # as signatures.py derives mh16 from the 64-bit lanes
    return (lanes >> np.uint64(48)).astype(np.int16)


def _gate_ref(a: np.ndarray, b: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """The prefix gate written out on (n, num_perm) uint64 lane rows: the
    top 8 bits of the first min(16, num_perm) lanes agree on at least
    t - 2 * margin of those lanes."""
    p = min(16, cfg.num_perm)
    same = (a[:, :p] >> np.uint64(56)) == (b[:, :p] >> np.uint64(56))
    floor = cfg.jaccard_threshold - 2 * ESTIMATE_MARGIN
    return same.sum(axis=1) / float(p) >= floor


@st.composite
def _lane_pairs(draw):
    """(cfg, a, b): uint64 MinHash lane rows. Per row a random share of
    lanes agrees on its top 8 bits; of those, a random share agrees on
    the whole lane and the rest only on the top 8 bits (so the top 16
    differ). Row 0 agrees on the top 8 bits only, in every lane."""
    num_perm = draw(st.sampled_from([8, 16, 128]))
    t = draw(st.sampled_from([0.45, 0.55, 0.6, 0.7, 0.8, 0.95]))
    n = draw(st.integers(1, 40))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    a = rng.integers(0, 2**64, size=(n, num_perm), dtype=np.uint64)
    b = rng.integers(0, 2**64, size=(n, num_perm), dtype=np.uint64)
    u = rng.random((n, num_perm))
    v = rng.random((n, num_perm))
    top8 = u < rng.random((n, 1))
    full = top8 & (v < rng.random((n, 1)))
    top8[0], full[0] = True, False
    flip = rng.integers(1, 256, size=(n, num_perm), dtype=np.uint64)
    b = np.where(top8, a ^ (flip << np.uint64(48)), b)
    b = np.where(full, a, b)
    cfg = DedupConfig(num_perm=num_perm, bands=min(16, num_perm),
                      jaccard_threshold=t)
    return cfg, a, b


@given(case=_lane_pairs())
@settings(max_examples=30, deadline=None)
def test_one_gate_predicate(spark, case):
    """The packed in-join gate evaluated in Spark decides every pair as
    the numpy reference of its predicate does."""
    cfg, a, b = case
    rows = [
        (i, a[i].view(np.int64).tolist(), b[i].view(np.int64).tolist())
        for i in range(len(a))
    ]
    df = spark.createDataFrame(
        rows, "id long, lanes_a array<long>, lanes_b array<long>"
    )
    packed = df.select(
        "id",
        *packed_prefix_cols(cfg, "lanes_a", "mpa"),
        *packed_prefix_cols(cfg, "lanes_b", "mpb"),
    )
    ok = packed.select(
        "id",
        (packed_prefix_frac(cfg, "mpa", "mpb") >= prefix_gate_floor(cfg))
        .alias("ok"),
    ).collect()
    spark_gate = [r["ok"] for r in sorted(ok, key=lambda r: r["id"])]
    assert spark_gate == _gate_ref(a, b, cfg).tolist()
    # row 0 matches on the top 8 bits only: the gate passes it, while
    # its 16-bit lane prefixes all differ
    assert spark_gate[0] and not (_mh16(a[0]) == _mh16(b[0])).any()


def test_estimate_filter_drops_only_below_estimate_floor(spark):
    """Every unified_candidates pair passed the prefix gate in the bucket
    join, and the estimate filter drops exactly the pairs with est <
    t - margin."""
    from twinspect_spark.corpus import generate_corpus
    from twinspect_spark.ingest import ingest_files
    from twinspect_spark.operators.buckets import unified_candidates
    from twinspect_spark.operators.exact import collapse_exact_dups
    from twinspect_spark.operators.verify import estimate_filter_candidates
    from twinspect_spark.signatures import compute_signatures

    # 32 bands admit many low-similarity candidates for the filter to drop
    cfg = DedupConfig(jaccard_threshold=0.7, bands=32)
    corpus = generate_corpus(n_clusters=15, transforms_per_original=2, seed=11)
    files = spark.createDataFrame(corpus.files)
    reps, _ = collapse_exact_dups(ingest_files(files, cfg).localCheckpoint())
    sigs = compute_signatures(reps, cfg).localCheckpoint()
    cands = unified_candidates(sigs, cfg).localCheckpoint()
    kept = {
        (r["a"], r["b"]): r["est"]
        for r in estimate_filter_candidates(cands, sigs, cfg).collect()
    }

    mh = {
        r["file_id"]: np.array(r["minhash"], dtype=np.int64).view(np.uint64)
        for r in sigs.select("file_id", "minhash").collect()
    }
    pairs = [(r["a"], r["b"]) for r in cands.collect()]
    A = np.stack([mh[x] for x, _ in pairs])
    B = np.stack([mh[y] for _, y in pairs])
    assert _gate_ref(A, B, cfg).all()
    est = (_mh16(A) == _mh16(B)).mean(axis=1)
    want = {
        p: e for p, e in zip(pairs, est)
        if e >= cfg.jaccard_threshold - ESTIMATE_MARGIN
    }
    assert len(want) < len(pairs)  # the threshold has something to drop
    assert kept == want

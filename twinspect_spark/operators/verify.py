"""Candidate-pair verification (SURVEY.md F4/F5/SF6 pattern).

The reference's two-phase filter — cheap length-ratio predicate before an
expensive C++ LCS similarity (twinspect/datasets/newsedits.py:105-136) —
is exactly the shape we need, ordered explicitly because Catalyst has no
UDF cost model (SURVEY.md §4):

  1. column predicates   : length-variation bound (F4), JVM codegen
  2. MinHash estimate    : fraction of equal lanes — vectorized Arrow
                           map (Catalyst's zip_with/aggregate HOFs are
                           interpreted per element, ~100x slower here)
  3. exact n-gram Jaccard: pandas UDF (numpy set ops) on survivors
  4. LCS scoring         : suffix-automaton longest-common-substring,
                           pandas UDF, only for borderline pairs

Stages 3-4 see only candidate pairs (tiny vs n²); content is joined in at
the last moment so it never rides through the band shuffles.

There is ONE MinHash prefix gate, at one site: the top ``_PACK_BITS``
bits of the first min(16, num_perm) lanes agree on at least
``prefix_gate_floor(cfg)`` of those lanes, evaluated inside the bucket
self-join on packed columns (packed_prefix_cols / packed_prefix_frac,
operators/buckets.bucket_pairs). Every candidate source — the batch
pipeline and the streaming probe alike — is that join, so the estimate
kernel (_est_filter_arrow) applies only the estimate threshold.

Partitioning rule for the two Python pair kernels (stage 2's mapInArrow,
stages 3-4's mapInPandas): their pair input is hash-repartitioned by ``b``
into ``spark.sql.shuffle.partitions`` partitions (``_spread_by_b``) before
the signature / content joins, which are broadcasts at ordinary sizes and
so keep whatever partitioning the pairs arrive with. Without it AQE
coalesces the ~30 B/row pair relation by bytes into one partition, and
the CPU-heavy kernel runs as one task while the other slots idle. An
explicit partition count is never coalesced by AQE; only pair rows are
shuffled, never content; and pairs sharing a ``b`` doc share a partition,
which the verify kernel's per-partition shingle cache relies on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from twinspect_spark.config import DedupConfig
from twinspect_spark.functions import hashing as H
from twinspect_spark.functions import lcs_native as _lcs_native


_PREFIX_LANES = 16
# Prefix bits per lane in the packed in-join gate. 8 bits halves the
# gate payload riding the byte-heaviest exchange in the pipeline (the
# bucket self-join: 16 lanes pack into 2 longs instead of 4) at no
# recall cost: prefix-collision probability per lane rises from 2^-16
# to 2^-8, so an ACCIDENTAL pair's expected matched fraction is
# s + (1-s)/256 ≈ s + 0.004 — still nowhere near the gate threshold
# (t - 2·margin, e.g. 0.4) — while a TRULY matching lane always matches
# its prefix, so false-reject odds are identical. The gate accepts a
# (slightly) larger superset; the full-lane estimate filter rejects the
# extras as before.
_PACK_BITS = 8
_LANES_PER_WORD = 64 // _PACK_BITS
_LANE_MASK = (1 << _PACK_BITS) - 1
# Triage margin around jaccard_threshold t: the estimate filter keeps
# est ≥ t − margin, and the prefix gate keeps a prefix-lane match
# fraction ≥ t − 2·margin (prefix_gate_floor).
ESTIMATE_MARGIN = 0.15


def prefix_gate_floor(cfg: DedupConfig) -> float:
    """Least fraction of matching packed prefix lanes a candidate pair
    needs to pass the MinHash prefix gate, t − 2·margin, compared in the
    bucket join (buckets.bucket_pairs)."""
    return cfg.jaccard_threshold - 2 * ESTIMATE_MARGIN


def packed_prefix_cols(cfg: DedupConfig, minhash_col: str = "minhash",
                       prefix: str = "mp") -> list:
    """Top ``_PACK_BITS`` bits of the first min(16, num_perm) MinHash
    lanes, packed ``_LANES_PER_WORD`` sublanes per long → ``mp0..``
    columns. Carried as join payload (8 bytes/word) so the candidate
    self-join can run the prefix gate INSIDE the join stage with pure
    integer codegen — no signature join, no interpreted higher-order
    functions, before any shuffle of the pair stream."""
    p = min(_PREFIX_LANES, cfg.num_perm)
    lpw = _LANES_PER_WORD
    cols = []
    for j in range((p + lpw - 1) // lpw):
        word = None
        for k in range(min(lpw, p - lpw * j)):
            lane = lpw * j + k
            t = F.shiftrightunsigned(
                F.element_at(minhash_col, lane + 1), 64 - _PACK_BITS
            )
            t = F.shiftleft(t, _PACK_BITS * k) if k else t
            word = t if word is None else word.bitwiseOR(t)
        cols.append(word.alias(f"{prefix}{j}"))
    return cols


def packed_prefix_frac(cfg: DedupConfig, a_prefix: str, b_prefix: str):
    """Fraction of packed prefix sublanes equal between two rows carrying
    ``packed_prefix_cols`` under ``a_prefix``/``b_prefix`` names. Short
    prefixes collide at 2^-_PACK_BITS per lane, so the gate accepts a
    superset of what full-lane equality would; the full-lane estimate
    filter rejects the extras."""
    p = min(_PREFIX_LANES, cfg.num_perm)
    lpw = _LANES_PER_WORD
    total = None
    for j in range((p + lpw - 1) // lpw):
        x = F.col(f"{a_prefix}{j}").bitwiseXOR(F.col(f"{b_prefix}{j}"))
        for k in range(min(lpw, p - lpw * j)):
            eq = F.when(
                F.shiftrightunsigned(x, _PACK_BITS * k)
                .bitwiseAND(F.lit(_LANE_MASK)) == 0,
                1,
            ).otherwise(0)
            total = eq if total is None else total + eq
    return total / F.lit(float(p))


def _est_filter_arrow(keep_cols: list[str], cfg: DedupConfig):
    """mapInArrow kernel: the lane-match estimate and the estimate
    threshold in ONE Python pass over raw Arrow record batches. Its
    pairs come from the bucket join, which applied the prefix gate.

    Two lessons baked in:
    (1) a pandas-UDF column consumed by both a Filter and the output
    Project is extracted into TWO ArrowEvalPython nodes by Catalyst —
    every pair paid the Arrow roundtrip twice; fusing compute and filter
    into one map kernel makes double evaluation structurally impossible.
    (2) the pandas representation of a list column is an object array of
    small numpy arrays — np.vstack over it is one alloc+copy per ROW,
    and that allocator churn is what inflated this stage's CPU 3.5x at
    8 workers on one memory controller (BASELINE.md round 3). Arrow's
    list<int16> is already ONE contiguous values buffer: flatten() +
    reshape is a view, the (A == B) compares are the only real work, and
    the filtered batch is rebuilt with Arrow filter — no pandas, no
    per-row allocation."""
    import pyarrow as pa

    num_perm = cfg.num_perm
    est_floor = cfg.jaccard_threshold - ESTIMATE_MARGIN

    def batches(it):
        for rb in it:
            n = rb.num_rows
            if not n:
                continue
            ia = rb.schema.get_field_index("mh_a")
            ib = rb.schema.get_field_index("mh_b")
            A = rb.column(ia).flatten().to_numpy(
                zero_copy_only=False
            ).reshape(n, num_perm)
            B = rb.column(ib).flatten().to_numpy(
                zero_copy_only=False
            ).reshape(n, num_perm)
            est = (A == B).mean(axis=1)
            m = est >= est_floor
            mask = pa.array(m)
            cols = [
                rb.column(rb.schema.get_field_index(c)).filter(mask)
                for c in keep_cols
            ]
            cols.append(pa.array(est[m], type=pa.float64()))
            yield pa.RecordBatch.from_arrays(cols, names=[*keep_cols, "est"])

    return batches


def _spread_by_b(pairs: DataFrame) -> DataFrame:
    """Hash-repartition pair rows by ``b`` into
    ``spark.sql.shuffle.partitions`` partitions, so a Python pair kernel
    downstream runs on every task slot (see the module docstring)."""
    n = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return pairs.repartition(n, "b")


def estimate_filter_candidates(
    candidates: DataFrame, signatures: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """→ (a, b[, src], est): join ``mh16`` lane prefixes onto DISTINCT
    candidate pairs from buckets.bucket_pairs (which applied the prefix
    gate), keep pairs whose lane-match estimate is ≥ threshold −
    ESTIMATE_MARGIN, carrying ``est`` forward for the verify triage
    (_est_filter_arrow).

    Order matters at scale: pair-dedup happens BEFORE this join — (a,b)
    rows are 16 bytes, so deduping the raw band stream first is the
    cheapest shuffle in the pipeline, and the signature arrays are then
    shipped only once per distinct pair. (With 46M raw pairs at 80k
    files, est-before-dedup shuffles ~92GB of arrays; dedup-first cuts
    that ~300x.) ``mh16`` holds 16-bit lane prefixes (signatures.py):
    equality of 16-bit prefixes falsely collides at 2^-16 per
    non-matching lane, inflating est by ≤ (1-J)·2^-16 ≈ 1.5e-5,
    invisible next to the ±margin band, while a truly matching lane
    always matches its prefix (the cascade only ADDS candidates; exact
    verify re-checks them all) — quartering shuffle and Arrow bytes vs
    full lanes."""
    # Narrow side-checkpoint: checkpoint scans cannot column-prune, so
    # BOTH join sides below would otherwise re-read the full wide
    # signature checkpoint (minhash arrays included) to project 2
    # columns — ~3.7 GB per 1M files vs 1.85 (one build scan) + 2×0.55
    # here. Row format on purpose: a columnar cache was measured SLOWER
    # for checkpoint-fed consumers (BASELINE.md round-3 A/B).
    sig = signatures.select("file_id", "mh16").localCheckpoint()
    sa = sig.select(F.col("file_id").alias("a"), F.col("mh16").alias("mh_a"))
    sb = sig.select(F.col("file_id").alias("b"), F.col("mh16").alias("mh_b"))
    joined = _spread_by_b(candidates).join(sa, "a").join(sb, "b")
    keep_cols = [c for c in joined.columns if c not in ("mh_a", "mh_b")]
    schema = T.StructType(
        [f for f in joined.schema.fields if f.name in keep_cols]
        + [T.StructField("est", T.DoubleType())]
    )
    return joined.mapInArrow(_est_filter_arrow(keep_cols, cfg), schema)


def _verify_map(keep_cols: list[str], cfg: DedupConfig):
    """mapInPandas kernel for verify_pairs: exact Jaccard + CONDITIONAL
    LCS + verdict in one Python pass.

    Two reasons this is fused rather than column UDFs:
    1. Catalyst extracts a pandas-UDF column consumed by a filter/when
       AND the output into multiple ArrowEvalPython nodes — the content
       strings crossed the Arrow pipe twice.
    2. Worse, extraction hoists the UDF OUT of `when(borderline, lcs())`
       and evaluates it eagerly for every pair — the suffix-automaton
       LCS silently ran on the whole candidate stream, not the
       borderline sliver. Python-side branching actually honors the
       borderline window."""
    k = cfg.shingle_size
    t = cfg.jaccard_threshold
    floor = t * 0.8
    lcs_t = cfg.lcs_threshold
    # Per-partition doc_id→shingle-hash cache. A doc surviving into P
    # candidate pairs used to be re-shingled P times (shingling is the
    # kernel's dominant cost: O(len·k) numpy passes per doc); keyed by
    # the already-present a/b ids it shingles once per partition.
    # verify_pairs hash-partitions the pairs by ``b`` (_spread_by_b), so
    # every pair sharing a b-side doc is co-located by construction. The
    # element cap bounds executor-thread memory (~32 MB of u64 at 4M
    # elements); on overflow the cache resets rather than evicts — a
    # coarse epoch reset keeps the hit rate with zero bookkeeping.
    _CACHE_MAX_ELEMS = 4_000_000

    def batches(it):
        cache: dict = {}
        cached_elems = 0

        def hashes_of(doc_id, text):
            nonlocal cached_elems
            h = cache.get(doc_id)
            if h is None:
                h = H.shingle_hashes(text, k)
                if cached_elems + h.size > _CACHE_MAX_ELEMS:
                    cache.clear()
                    cached_elems = 0
                cache[doc_id] = h
                cached_elems += h.size
            return h

        for pdf in it:
            n = len(pdf)
            if not n:
                continue
            ida = pdf["a"].to_numpy()
            idb = pdf["b"].to_numpy()
            ca = pdf["content_a"].to_numpy()
            cb = pdf["content_b"].to_numpy()
            jac = np.empty(n, dtype=np.float64)
            for i in range(n):
                x, y = ca[i], cb[i]
                if x is None or y is None:
                    jac[i] = 0.0
                    continue
                sx = hashes_of(ida[i], x)
                sy = hashes_of(idb[i], y)
                inter = np.intersect1d(sx, sy, assume_unique=True).size
                jac[i] = inter / float(sx.size + sy.size - inter)
            # None (not NaN) for non-borderline rows: Arrow maps NaN to a
            # float NaN, pd.NA to a true SQL NULL — the contract is NULL
            lcs_vals: list[float | None] = [None] * n
            border = (jac >= floor) & (jac < t)
            for i in np.flatnonzero(border):
                x, y = ca[i], cb[i]
                if not x or not y:
                    lcs_vals[i] = 0.0
                    continue
                short, long_ = (x, y) if len(x) <= len(y) else (y, x)
                lcs_vals[i] = _lcs_len(short, long_) / float(len(short))
            lcs = np.array(
                [v if v is not None else np.nan for v in lcs_vals]
            )
            verified = (jac >= t) | (border & (lcs >= lcs_t))
            out = pdf[keep_cols].copy()
            out["jaccard"] = jac
            out["lcs_score"] = pd.array(lcs_vals, dtype="Float64")
            out["verified"] = verified
            out["method"] = "exact"
            yield out

    return batches


def _lcs_len(a: str, b: str) -> int:
    """Longest common substring via a suffix automaton of `a` walked by
    `b` — O(|a|+|b|) states/time, the linear-time alternative to a suffix
    array with LCP (north_star's "suffix-array-based LCS scoring" slot;
    reference analog: rapidfuzz LCSseq, newsedits.py:117-122).

    Dispatches to the compiled kernel (functions/lcs_native.py, ~20×
    the Python automaton on the 3.6 KB borderline-band docs that
    dominate verify wall — round-4 profile) and keeps this Python
    automaton as the byte-identical portable fallback."""
    if not a or not b:
        return 0
    n = _lcs_native.lcs_len_native(a, b)
    if n is not None:
        return n
    # suffix automaton construction (standard; see e.g. cp-algorithms)
    nxt: list[dict[str, int]] = [{}]
    link = [-1]
    length = [0]
    last = 0
    for ch in a:
        cur = len(nxt)
        nxt.append({})
        link.append(0)
        length.append(length[last] + 1)
        p = last
        while p != -1 and ch not in nxt[p]:
            nxt[p][ch] = cur
            p = link[p]
        if p != -1:
            q = nxt[p][ch]
            if length[p] + 1 == length[q]:
                link[cur] = q
            else:
                clone = len(nxt)
                nxt.append(dict(nxt[q]))
                link.append(link[q])
                length.append(length[p] + 1)
                while p != -1 and nxt[p].get(ch) == q:
                    nxt[p][ch] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur
    best = cur_len = 0
    v = 0
    for ch in b:
        while v and ch not in nxt[v]:
            v = link[v]
            cur_len = length[v]
        if ch in nxt[v]:
            v = nxt[v][ch]
            cur_len += 1
            best = max(best, cur_len)
    return best


def verify_pairs(
    candidates: DataFrame,
    ingested: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """candidates(a, b[, src]) → pairs(a, b, jaccard, lcs_score, verified).

    ``verified`` = exact Jaccard ≥ threshold, OR (borderline ≥ 80% of
    threshold AND LCS ≥ lcs_threshold) — the LCS path rescues pairs whose
    shingle sets diverge from heavy local edits but share long verbatim
    runs (the reference's reason for LCS over token overlap,
    newsedits.py:105-122).

    Statistical triage: when candidates carry an ``est`` column (from
    estimate_filter_candidates), pairs with est ≥ threshold + 3σ are
    accepted outright (σ = sqrt(t(1-t)/num_perm) ≈ 0.04 at 128 lanes —
    false-accept odds ~1e-3 per pair at the boundary) and only the
    borderline band ±3σ goes through the content join + exact-Jaccard /
    LCS UDFs. At web scale the borderline band is a sliver of verified
    pairs, so the Python path runs on thousands of rows, not millions.
    For triage-accepted pairs ``jaccard`` holds the ESTIMATE and
    ``method`` = 'minhash_est'; exact-verified pairs carry
    ``method`` = 'exact'.
    """
    sure = None
    if "est" in candidates.columns:
        sigma = (
            cfg.jaccard_threshold * (1 - cfg.jaccard_threshold) / cfg.num_perm
        ) ** 0.5
        hi = cfg.jaccard_threshold + 3 * sigma
        sure = candidates.where(F.col("est") >= hi).select(
            "a",
            "b",
            F.col("est").alias("jaccard"),
            F.lit(None).cast("double").alias("lcs_score"),
            F.lit(True).alias("verified"),
            F.lit("minhash_est").alias("method"),
        )
        candidates = candidates.where(F.col("est") < hi)

    content = ingested.select(
        "file_id", F.col("content_norm").alias("content"), "size"
    )
    ca = content.select(
        F.col("file_id").alias("a"),
        F.col("content").alias("content_a"),
        F.col("size").alias("size_a"),
    )
    cb = content.select(
        F.col("file_id").alias("b"),
        F.col("content").alias("content_b"),
        F.col("size").alias("size_b"),
    )
    paired = _spread_by_b(candidates).join(ca, "a").join(cb, "b")

    # F4: cheap length-variation bound before any UDF
    max_len = F.greatest("size_a", "size_b")
    len_var = (F.abs(F.col("size_a") - F.col("size_b")) / max_len).alias("len_var")
    paired = paired.where(len_var <= cfg.max_length_variation)

    schema = T.StructType(
        [
            paired.schema["a"],
            paired.schema["b"],
            T.StructField("jaccard", T.DoubleType()),
            T.StructField("lcs_score", T.DoubleType()),
            T.StructField("verified", T.BooleanType()),
            T.StructField("method", T.StringType()),
        ]
    )
    exact = paired.mapInPandas(
        _verify_map(["a", "b"], cfg), schema
    )
    return exact if sure is None else exact.unionByName(sure)

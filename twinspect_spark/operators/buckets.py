"""Unified candidate generation: LSH bands + SimHash chunks in ONE
bucket keyspace (SURVEY.md J4+J5 fused).

Running the two candidate paths as separate self-joins costs two full
shuffle chains (sizes → cap → self-join each). Both are the same
abstract operation — equi-self-join on a bucket key — so the band table
and the chunk table are unioned into one ``(space, bucket_idx,
bucket_key)`` relation first: one bucket-size pass, one frequency cap,
one self-join, one pair dedupe.

Stage discipline (the serial chain is what kills scaling efficiency at
small work sizes — every exchange/broadcast/AQE boundary is constant
latency that 4× the cores cannot shrink):

* bucket sizes come from a COUNT window over the single exchange the
  self-join needs anyway — no second aggregation pass, no broadcast of
  a megarow sizes relation;
* the (space, bucket_idx, bucket_key) triple is packed into ONE long
  before that exchange (packed_bucket_table) — UnsafeRow spends an
  8-byte slot per column, so the pack cuts 16 bytes/row off the
  byte-heaviest shuffle and makes every downstream hash/compare a
  single-long operation;
* the capped table is materialized ONCE (localCheckpoint) and both join
  sides read it — the naive composed plan re-exploded the signature
  table six times and re-aggregated sizes four times;
* the MinHash prefix gate runs INSIDE the join stage on packed 8-bit
  lane prefixes (operators/verify.packed_prefix_cols) — pure integer
  codegen, no interpreted HOFs, no signature join — so the pair stream
  entering the dedupe shuffle is already est-plausible. The estimate
  filter then joins lane prefixes onto survivors only and applies no
  gate of its own (operators/verify.py: one gate, one site).

The SimHash Hamming post-filter (bit_count ≤ d) applies only to
chunk-space pairs; simhash codes ride along as join payload (16 bytes)
so no extra join is needed to fetch them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from twinspect_spark.config import DedupConfig
from twinspect_spark.operators.verify import (
    packed_prefix_cols,
    packed_prefix_frac,
    prefix_gate_floor,
)


def bucket_table(
    signatures: DataFrame, cfg: DedupConfig, with_prefix: bool = False
) -> DataFrame:
    """signatures → (file_id, simhash, space, bucket_idx, bucket_key
    [, mp0..mpK packed prefix words]); space 0 = MinHash LSH band,
    space 1 = SimHash pigeonhole chunk. All column expressions —
    posexplode over a single assembled array keeps it one projection,
    no union of two scans."""
    r = cfg.rows_per_band
    w = cfg.chunk_bits
    mask = (1 << w) - 1
    entries = F.array(
        *[
            F.struct(
                F.lit(0).alias("space"),
                F.lit(i).alias("bucket_idx"),
                F.xxhash64(F.slice("minhash", i * r + 1, r)).alias("bucket_key"),
            )
            for i in range(cfg.bands)
        ],
        *[
            F.struct(
                F.lit(1).alias("space"),
                F.lit(j).alias("bucket_idx"),
                F.shiftrightunsigned(F.col("simhash"), j * w)
                .bitwiseAND(F.lit(mask))
                .alias("bucket_key"),
            )
            for j in range(cfg.simhash_chunks)
        ],
    )
    payload = ["file_id", "simhash"]
    extra = packed_prefix_cols(cfg) if with_prefix else []
    b = signatures.select(
        *payload, *extra, F.explode(entries).alias("e")
    )
    names = [c for c in b.columns if c != "e"]
    return b.select(*names, "e.space", "e.bucket_idx", "e.bucket_key")


def packed_bucket_table(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures → (file_id, simhash, mp0..mpK, bucket): bucket_table
    rows with packed prefix words, and the (space, bucket_idx,
    bucket_key) triple packed into ONE long ``bucket``: bits 63..62
    space, 61..56 bucket_idx (DedupConfig caps bands and simhash_chunks
    at 64), 55..0 the low 56 bits of the key. These rows feed the
    byte-heaviest shuffle in the pipeline and UnsafeRow spends an 8-byte
    slot per column — packing drops 16 bytes/row. Truncating the 64-bit
    band hash to 56 bits can only MERGE buckets (a superset of candidate
    pairs, cleaned by the gates/verify downstream) — recall is preserved
    by construction; the collision rate at 2^56 per band is negligible.
    The streaming store keeps exactly these rows per file."""
    b = bucket_table(signatures, cfg, with_prefix=True)
    packed = (
        F.shiftleft(F.col("space").cast("long"), 62)
        .bitwiseOR(F.shiftleft(F.col("bucket_idx").cast("long"), 56))
        .bitwiseOR(F.col("bucket_key").bitwiseAND(F.lit((1 << 56) - 1)))
    )
    return b.withColumn("bucket", packed).drop(
        "space", "bucket_idx", "bucket_key"
    )


def cap_buckets(rows: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Packed bucket rows → + per-bucket ``count`` from ONE count-window
    pass on the self-join's own exchange, singleton and hot (>
    max_band_bucket) buckets dropped, result materialized (eager
    localCheckpoint) so both join sides and the chain window of
    bucket_pairs read a materialized relation with accurate AQE stats
    and no subtree re-execution."""
    return (
        rows.withColumn("count", F.count("*").over(W.partitionBy("bucket")))
        .where(
            (F.col("count") > 1) & (F.col("count") <= cfg.max_band_bucket)
        )
        .localCheckpoint()
    )


def capped_bucket_table(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Substage 1 of unified_candidates: packed bucket rows, capped.
    Exposed separately so the scaling-evidence bench (bench.py
    --candbench) can meter this exchange apart from the pair join."""
    return cap_buckets(packed_bucket_table(signatures, cfg), cfg)


def unified_candidates(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """→ (a, b, src) distinct candidate pairs from both spaces, a < b.
    src = 'lsh' | 'simhash' (min over contributing spaces).

    Giant-cluster guard: buckets larger than ``cfg.chain_bucket_size``
    switch from all-pairs to a SPANNING CHAIN — members sorted by
    (simhash, file_id), consecutive members paired. Web corpora produce
    huge near-identical cliques (boilerplate, templates); all-pairs on a
    1000-member bucket is 500k pairs where n-1 suffice, because the
    downstream connected components is transitive. Sorting by simhash
    puts same-cluster members (identical or near-identical codes)
    adjacent, so the chain stays within clusters and recall survives;
    cross-cluster chain links are rejected by exact verification, never
    merged. Buckets beyond ``cfg.max_band_bucket`` are still dropped
    outright (hot-bucket cap). Nothing on the job path counts or reports
    the dropped buckets yet; the run record's cap-drop counter (ROADMAP
    open item 1) is where that count belongs.

    The capped bucket table is materialized eagerly (see
    capped_bucket_table); the join applies the packed MinHash prefix
    gate at verify.prefix_gate_floor(cfg)."""
    kept = capped_bucket_table(signatures, cfg)
    return bucket_pairs(kept, cfg)


def bucket_pairs(kept: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Substage 2 of unified_candidates: self-join small buckets
    (all-pairs) + spanning-chain big buckets, in-join Hamming and packed
    prefix gates, then the SO3 pair dedupe. See unified_candidates for
    semantics. ``kept`` is cap_buckets output; the streaming probe
    (streaming/incremental.py) passes stored ∪ new rows of the buckets a
    micro-batch touches, the batch pipeline every bucket row."""
    keys = ["bucket"]  # packed (space, bucket_idx, bucket_key) long
    payload = [c for c in kept.columns if c not in (*keys, "count")]

    # space rides in the top 2 bits of the packed key
    is_lsh = F.shiftrightunsigned(F.col("bucket"), 62) == 0
    hamming_ok = is_lsh | (
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        <= cfg.hamming_threshold
    )
    gate_ok = packed_prefix_frac(cfg, "mpa", "mpb") >= prefix_gate_floor(cfg)
    src_col = F.when(is_lsh, "lsh").otherwise("simhash")
    mp = [c for c in payload if c.startswith("mp")]

    def side(df: DataFrame, tag: str) -> DataFrame:
        cols = [F.col("file_id").alias("a" if tag == "a" else "b"),
                F.col("simhash").alias(f"sim_{tag}")]
        cols += [F.col(c).alias(f"mp{tag}{c[2:]}") for c in mp]
        return df.select(*keys, *cols)

    # SHUFFLE_HASH, not sort-merge: the bucket self-join is the
    # byte-heaviest exchange in the pipeline, and SMJ pays two full
    # sorts of the bucket table for a join whose per-key groups are
    # cap-bounded (<= max_band_bucket) — a per-partition hash build is
    # strictly cheaper and measured 2.3x faster with 2.3x less CPU at
    # 1M files (the sorts were also the main memory-contention source
    # at higher core counts). Cluster-valid: hash map size per task =
    # partition slice of the capped table, bounded by shuffle
    # partitioning, never the whole relation.
    small = kept.where(F.col("count") <= cfg.chain_bucket_size)
    all_pairs = (
        side(small, "a").join(side(small, "b").hint("shuffle_hash"), keys)
        .where(F.col("a") < F.col("b"))
        .where(hamming_ok)
        .where(gate_ok)
        .select("a", "b", src_col.alias("src"))
    )

    big = kept.where(F.col("count") > cfg.chain_bucket_size)
    w = W.partitionBy(*keys).orderBy("simhash", "file_id")
    ranked = big.withColumn("rk", F.row_number().over(w))
    nxt_cols = [
        F.col("file_id").alias("nxt_id"),
        F.col("simhash").alias("nxt_sim"),
        *[F.col(c).alias(f"mpb{c[2:]}") for c in mp],
    ]
    nxt = ranked.select(*keys, (F.col("rk") - 1).alias("rk"), *nxt_cols)
    this_cols = [
        *keys, "rk", "file_id", "simhash",
        *[F.col(c).alias(f"mpa{c[2:]}") for c in mp],
    ]
    chained = (
        ranked.select(*this_cols)
        .join(nxt.hint("shuffle_hash"), [*keys, "rk"])
        .select(
            F.least("file_id", "nxt_id").alias("a"),
            F.greatest("file_id", "nxt_id").alias("b"),
            F.col("simhash").alias("sim_a"),
            F.col("nxt_sim").alias("sim_b"),
            "bucket",
            *[f"mpa{c[2:]}" for c in mp],
            *[f"mpb{c[2:]}" for c in mp],
        )
        .where(hamming_ok)
        .where(gate_ok)
        .select("a", "b", src_col.alias("src"))
    )
    return (
        all_pairs.unionByName(chained)
        .groupBy("a", "b")
        .agg(F.min("src").alias("src"))
    )

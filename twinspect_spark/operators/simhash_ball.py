"""SimHash Hamming-ball candidate generation (SURVEY.md J5).

Reference analog: threshold Hamming search over 64-bit codes
(twinspect/metrics/hamming.py:87-118). Spark-native: split the 64-bit
SimHash into ``k`` equal chunks; by pigeonhole, two codes within Hamming
distance ``d <= k-1`` agree exactly on ≥1 chunk → equi-self-join per
chunk, then the exact ``bit_count(xor) <= d`` post-filter (Spark ≥3.3
builtin — replaces the reference's hexhamming C extension, eff.py:89).

All column expressions; zero Python on this path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from twinspect_spark.config import DedupConfig


def chunk_table(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures → chunks(file_id, simhash, chunk_idx, chunk_val)."""
    w = cfg.chunk_bits
    mask = (1 << w) - 1
    vals = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * w).bitwiseAND(F.lit(mask))
            for i in range(cfg.simhash_chunks)
        ]
    )
    return signatures.select(
        "file_id", "simhash", F.posexplode(vals).alias("chunk_idx", "chunk_val")
    )


def simhash_candidates(
    signatures: DataFrame, cfg: DedupConfig, dedupe: bool = True
) -> DataFrame:
    """→ (a, b, hamming), a < b, hamming <= cfg.hamming_threshold;
    distinct unless ``dedupe=False`` (pipeline dedupes after the shared
    MinHash-estimate filter).

    The chunk self-join produces supersets; the codegen'd bit_count filter
    runs inside the join stage before the distinct's shuffle, so false
    candidates never shuffle twice.
    """
    ch = chunk_table(signatures, cfg)
    left = ch.select(
        "chunk_idx", "chunk_val",
        F.col("file_id").alias("a"), F.col("simhash").alias("sim_a"),
    )
    right = ch.select(
        "chunk_idx", "chunk_val",
        F.col("file_id").alias("b"), F.col("simhash").alias("sim_b"),
    )
    pairs = (
        left.join(right, ["chunk_idx", "chunk_val"])
        .where(F.col("a") < F.col("b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))),
        )
        .where(F.col("hamming") <= cfg.hamming_threshold)
        .select("a", "b", "hamming")
    )
    return pairs.distinct() if dedupe else pairs


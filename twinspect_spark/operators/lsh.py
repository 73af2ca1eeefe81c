"""MinHash LSH banding candidate generation (SURVEY.md J4).

The reference searches Hamming space directly with an all-pairs SIMD scan
(twinspect/metrics/hamming.py:87-118) — O(n²), single machine. At 10^12
rows the Spark-native replacement is signature banding: group the
``num_perm`` MinHash lanes into ``b`` bands of ``r`` rows, hash each band
(JVM-side ``xxhash64`` on the array slice — no Python on this path), and
self-join on ``(band_idx, band_hash)``. Two documents with shingle-set
Jaccard ``s`` collide in ≥1 band with probability ``1-(1-s^r)^b``
(Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets*, ch.3).

Skew (SURVEY.md §4 item 1): near-identical boilerplate puts huge row
counts into one band bucket → O(k²) pair explosion in the self-join.
Mitigations, in order:
  1. exact-dup collapse upstream (operators/exact.py) removes identical
     content entirely;
  2. a frequency cap drops buckets larger than ``cfg.max_band_bucket``
     from pair generation. Nothing on the job path counts or reports
     the dropped buckets yet; the run record's cap-drop counter (ROADMAP
     open item 1) is where that count belongs;
  3. AQE skew-join splitting handles the surviving moderate skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from twinspect_spark.config import DedupConfig


def band_table(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures → bands(file_id, band_idx, band_hash).

    band_hash = xxhash64(slice(minhash, i*r+1, r)) — computed as a column
    expression over all b bands then posexploded; stays in whole-stage
    codegen.
    """
    r = cfg.rows_per_band
    hashes = F.array(
        *[F.xxhash64(F.slice("minhash", i * r + 1, r)) for i in range(cfg.bands)]
    )
    return signatures.select(
        "file_id", F.posexplode(hashes).alias("band_idx", "band_hash")
    )


def lsh_candidates(
    bands: DataFrame, cfg: DedupConfig, dedupe: bool = True
) -> DataFrame:
    """bands → candidate pairs (a, b), a < b.

    Plan shape: one aggregation to size buckets, an explicit cap filter,
    then a bucket-key self-join with upper-triangle condition (halves the
    shuffle output, SURVEY.md §4 upper-triangle idiom).

    ``dedupe=True`` merges pairs found by multiple bands (SO3) right
    here. The pipeline passes ``dedupe=False`` and dedupes AFTER the
    cheap MinHash-estimate filter instead — deduping first means
    shuffling the full raw pair stream (dominated by moderate-similarity
    vocabulary noise), which measured ~9x the surviving volume.
    """
    sizes = bands.groupBy("band_idx", "band_hash").count()
    keep = sizes.where(
        (F.col("count") > 1) & (F.col("count") <= cfg.max_band_bucket)
    ).select("band_idx", "band_hash")
    # semi-join restricts the band table to productive, non-hot buckets
    b = bands.join(keep, ["band_idx", "band_hash"], "left_semi")
    left = b.select("band_idx", "band_hash", F.col("file_id").alias("a"))
    right = b.select("band_idx", "band_hash", F.col("file_id").alias("b"))
    pairs = (
        left.join(right, ["band_idx", "band_hash"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    return pairs.distinct() if dedupe else pairs

"""Pipeline configuration.

The reference drives everything from a YAML config compiled to pydantic
models (reference: config.yml:1-258, twinspect/schema.py:17-181). We use a
frozen dataclass: plain-python, picklable into UDF closures, hashable into
the run manifest for checkpoint resumability (see plans/manifest.py).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    """Knobs for the signature → candidates → verify → cluster pipeline.

    Defaults follow the TwinSpect text-code setup: 64-bit code width
    (reference config.yml:3-5), threshold = bits/4 for <=64-bit codes
    (reference twinspect/metrics/eff.py:112-117).
    """

    # --- signatures ---
    shingle_size: int = 4          # char k-grams over normalized content
    num_perm: int = 128            # MinHash lanes
    simhash_bits: int = 64         # SimHash width (reference code width)
    seed: int = 42                 # master seed for all hash lanes
    normalize: str = "simple"      # "simple" (lower+ws-collapse) | "nfkc" |
                                   # "code" (comment-strip + simple)

    # --- LSH banding (MinHash candidate generation) ---
    # b bands of r = num_perm // bands rows. Collision prob at Jaccard s
    # is 1-(1-s^r)^b: r=8/b=16 gives ~0.9999 at s=0.9, 0.93 at s=0.8,
    # 0.61 at s=0.7 (direct), with transitive clustering and the SimHash
    # path recovering near-threshold pairs. r=4/b=32 is the high-recall
    # setting (0.9998 at s=0.7) but on vocabulary-heavy corpora admits
    # orders of magnitude more moderate-similarity noise (measured 46M vs
    # 335k raw candidates at 80k files) — noise volume, not verify cost,
    # is what kills 10^12-file runs.
    bands: int = 16

    # --- SimHash Hamming-ball candidate generation ---
    simhash_chunks: int = 4        # pigeonhole chunks; detects hamming <= chunks-1
    hamming_threshold: int = 3     # keep pairs with bit_count(xor) <= this

    # --- ingest filtering ---
    min_content_length: int = 0    # drop files shorter than this at ingest
                                   # (F1; reference newsedits.py:144-208,
                                   # dataset-level min_content_length)

    # --- verification ---
    jaccard_threshold: float = 0.8   # exact n-gram Jaccard acceptance
    lcs_threshold: float = 0.6       # normalized longest-common-substring floor
    max_length_variation: float = 0.5  # cheap pre-filter before LCS (F4 pattern)

    # --- scale hardening ---
    max_band_bucket: int = 2000    # frequency cap: bands hotter than this are
                                   # dropped from pair-gen (exact-dup path covers
                                   # them; boilerplate guard)
    chain_bucket_size: int = 64    # buckets above this emit a (simhash,id)-sorted
                                   # spanning chain (n-1 pairs) instead of all
                                   # pairs (C(n,2)) — giant near-dup cliques are
                                   # recovered transitively by CC (buckets.py)

    # --- execution ---
    shuffle_partitions: int = 32
    arrow_batch_rows: int = 2048   # cap Arrow batch size for large content

    def __post_init__(self) -> None:
        if self.num_perm % self.bands != 0:
            raise ValueError("num_perm must be divisible by bands")
        if self.simhash_bits % self.simhash_chunks != 0:
            raise ValueError("simhash_bits must be divisible by simhash_chunks")
        if self.hamming_threshold > self.simhash_chunks - 1:
            raise ValueError(
                "pigeonhole violated: chunked equi-join only guarantees recall "
                "for hamming <= simhash_chunks - 1"
            )
        if self.bands > 64 or self.simhash_chunks > 64:
            # bucket_idx gets 6 bits of the packed bucket key
            # (operators/buckets.capped_bucket_table)
            raise ValueError(
                "packed bucket key supports at most 64 buckets per space"
            )

    @property
    def rows_per_band(self) -> int:
        return self.num_perm // self.bands

    @property
    def chunk_bits(self) -> int:
        return self.simhash_bits // self.simhash_chunks

    def fingerprint(self) -> str:
        """Stable content hash of the config — keys the checkpoint manifest
        (analog of the reference's artifact naming by config+checksum,
        twinspect/tools.py:30-52)."""
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()

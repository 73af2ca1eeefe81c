"""Seeded inputs for the benchmark workloads.

Every generator returns a ``Labelled`` corpus: the files table in the
pipeline's input schema (repo, path, commit, lang, content) plus one
integer ground-truth group per row (-1 = a file planted with no
duplicate). The same seed gives byte-identical inputs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from tools.gen_hient import build_vocab, sample_words, substitute, zipf_cdf
from twinspect_spark.corpus import generate_corpus

FILE_COLS = ["repo", "path", "commit", "lang", "content"]


@dataclass
class Labelled:
    files: pd.DataFrame  # FILE_COLS
    group: np.ndarray    # int64 per row, -1 = no planted duplicate


def planted(seed: int, n_clusters: int, n_distractors: int) -> Labelled:
    """Short code files from ``corpus.generate_corpus``: clusters of one
    original + 3 edit transforms, a byte-identical fork copy for every
    fourth cluster, and unrelated distractors."""
    c = generate_corpus(
        n_clusters=n_clusters,
        transforms_per_original=3,
        n_distractors=n_distractors,
        n_exact_dups=n_clusters // 4,
        seed=seed,
    )
    group = c.labels["cluster_id"].fillna(-1).astype(np.int64).to_numpy()
    return Labelled(c.files[FILE_COLS].reset_index(drop=True), group)


# --- long high-entropy documents ------------------------------------------
# Zipfian vocabulary from tools/gen_hient.py (50k random 3-10 letter
# words, exponent 1.07).
# Word-substitution variants. Measured shingle Jaccard (k=4) on this
# vocabulary is about 1 - 1.8 * rate. MATCH_RATES stay above the 0.8
# threshold (0.03 above the estimate's sure-accept line, 0.06 and 0.09
# in exact verify) and are labelled with their group; MISS_RATES land in
# the LCS band below it, where substitutions leave no long common run.
# Those near misses are labelled -1: clustering one with its source
# costs precision.
MATCH_RATES = (0.03, 0.06, 0.09)
MISS_RATES = (0.14, 0.18)
PREFIX_KEEP = 0.8  # prefix variant: 80% of the words + a fresh tail


def longdoc(seed: int, n_groups: int, n_solo: int, doc_words: int) -> Labelled:
    """Long Zipfian-vocabulary documents. Each group is one original, one
    substitution variant per rate in ``MATCH_RATES`` and ``MISS_RATES``,
    an 80%-prefix + fresh-tail variant (shingle Jaccard ~0.74, LCS 0.8:
    the LCS-rescue band) and a byte-identical copy; ``n_solo`` unrelated
    documents ride along."""
    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = build_vocab(seed)
    cdf = zipf_cdf()

    def draw(n: int) -> np.ndarray:
        return vocab[sample_words(rng, cdf, n)]

    rows: list[tuple[str, str, int]] = []  # (path, text, group)
    for g in range(n_groups):
        words = draw(doc_words)
        original = " ".join(words)
        rows.append((f"g{g}/orig.txt", original, g))
        for rate in MATCH_RATES + MISS_RATES:
            label = g if rate in MATCH_RATES else -1
            text = substitute(rng, cdf, vocab, original, rate)
            rows.append((f"g{g}/sub{int(rate * 100):02d}.txt", text, label))
        keep = int(doc_words * PREFIX_KEEP)
        tail = draw(doc_words - keep)
        rows.append(
            (f"g{g}/prefix.txt", " ".join(np.concatenate([words[:keep], tail])), g)
        )
        rows.append((f"g{g}/copy.txt", original, g))
    for s in range(n_solo):
        rows.append((f"solo/{s}.txt", " ".join(draw(doc_words)), -1))

    order = rng.permutation(len(rows))  # groups spread over partitions
    files = pd.DataFrame(
        {
            "repo": [f"docs{seed}" for _ in order],
            "path": [rows[i][0] for i in order],
            "commit": [f"{rng.integers(0, 2**63):040x}" for _ in order],
            "lang": "text",
            "content": [rows[i][1] for i in order],
        }
    )
    return Labelled(files, np.array([rows[i][2] for i in order], dtype=np.int64))


def shuffled(corpus: Labelled, seed: int) -> Labelled:
    """Row order permuted, so a cluster's members arrive in different
    stream batches."""
    order = np.random.Generator(np.random.PCG64(seed)).permutation(
        len(corpus.files)
    )
    return Labelled(
        corpus.files.iloc[order].reset_index(drop=True), corpus.group[order]
    )

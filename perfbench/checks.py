"""Output checks run on every timed pass and batch.

A pass is correct when its cluster table covers every input file exactly
once, keeps byte-identical files together, reaches the workload's
recall/precision floors against the generator's labels, and has the same
digest as every other pass of the same input (within the run and, via
``DigestBook``, across runs of one seed in this checkout).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass
class Truth:
    file_id: np.ndarray  # int64, ascending
    group: np.ndarray    # planted group per file_id, -1 = none
    exact: np.ndarray    # identical-content class per file_id


def make_truth(file_id: np.ndarray, group: np.ndarray, content) -> Truth:
    """Align labels to ascending file_id. ``content`` is the raw text per
    row, in the same row order as ``file_id`` and ``group``."""
    exact, _ = pd.factorize(pd.Series(content), sort=False)
    order = np.argsort(file_id, kind="stable")
    return Truth(
        np.asarray(file_id, dtype=np.int64)[order],
        np.asarray(group, dtype=np.int64)[order],
        np.asarray(exact, dtype=np.int64)[order],
    )


def subset(truth: Truth, file_ids: np.ndarray) -> Truth:
    keep = np.isin(truth.file_id, file_ids)
    return Truth(truth.file_id[keep], truth.group[keep], truth.exact[keep])


def digest(clusters: pd.DataFrame) -> str:
    """sha256 over the (file_id, cluster_id) rows sorted by file_id."""
    pairs = np.stack(
        [
            clusters["file_id"].to_numpy(np.int64),
            clusters["cluster_id"].to_numpy(np.int64),
        ],
        axis=1,
    )
    pairs = pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]
    return hashlib.sha256(np.ascontiguousarray(pairs).tobytes()).hexdigest()


def _pairs(sizes) -> int:
    s = np.asarray(sizes, dtype=np.int64)
    return int((s * (s - 1) // 2).sum())


def pair_scores(cluster_of: np.ndarray, group: np.ndarray) -> tuple[float, float]:
    """(recall, precision) over file pairs. Recall: labelled same-group
    pairs placed in one output cluster ÷ labelled same-group pairs.
    Precision: co-clustered pairs sharing a label ÷ co-clustered pairs."""
    df = pd.DataFrame({"c": cluster_of, "g": group})
    lab = df[df["g"] >= 0]
    hit = _pairs(lab.groupby(["c", "g"]).size())
    truth_pairs = _pairs(lab.groupby("g").size())
    co_pairs = _pairs(df.groupby("c").size())
    recall = hit / truth_pairs if truth_pairs else 1.0
    precision = hit / co_pairs if co_pairs else 1.0
    return recall, precision


@dataclass
class Verdict:
    problems: list[str]
    recall: float
    precision: float
    digest: str


def check_clusters(
    clusters: pd.DataFrame,
    truth: Truth,
    min_recall: float,
    min_precision: float,
) -> Verdict:
    problems: list[str] = []
    fid = clusters["file_id"].to_numpy(np.int64)
    cid = clusters["cluster_id"].to_numpy(np.int64)
    order = np.argsort(fid, kind="stable")
    fid, cid = fid[order], cid[order]
    if len(fid) != len(truth.file_id) or not np.array_equal(fid, truth.file_id):
        missing = np.setdiff1d(truth.file_id, fid).size
        extra = len(fid) - np.unique(fid).size + np.setdiff1d(fid, truth.file_id).size
        problems.append(f"file coverage: {missing} missing, {extra} duplicate/unknown")
        recall = precision = 0.0
    else:
        split = pd.DataFrame({"x": truth.exact, "c": cid}).groupby("x")["c"].nunique()
        if (split > 1).any():
            problems.append(f"{int((split > 1).sum())} exact-copy sets split")
        recall, precision = pair_scores(cid, truth.group)
        if recall < min_recall:
            problems.append(f"pair_recall {recall:.4f} < floor {min_recall}")
        if precision < min_precision:
            problems.append(f"pair_precision {precision:.4f} < floor {min_precision}")
    return Verdict(problems, recall, precision, digest(clusters))


class DigestBook:
    """First-seen output digest per key, persisted in the benchmark's work
    directory: a later run of the same seed must reproduce it."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as f:
                self.book: dict[str, str] = json.load(f)
        except FileNotFoundError:
            self.book = {}

    def agrees(self, key: str, value: str) -> bool:
        if key not in self.book:
            self.book[key] = value
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.book, f, indent=0, sort_keys=True)
            os.replace(tmp, self.path)
        return self.book[key] == value

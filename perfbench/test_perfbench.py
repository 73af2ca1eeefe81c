"""Tests of the benchmark itself.

    python -m pytest perfbench -q

The fast tests need no Spark; ``test_selfcheck`` runs
``run.py --selfcheck`` (one local Spark session, about a minute and a half
on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.checks import digest, pair_scores
from perfbench.eventlog import read_event_log
from perfbench.selfcheck import checker_rejects_corruption

HERE = os.path.dirname(os.path.abspath(__file__))


def test_inputs_are_deterministic_per_seed():
    a = inputs.longdoc(5, n_groups=2, n_solo=2, doc_words=200)
    b = inputs.longdoc(5, n_groups=2, n_solo=2, doc_words=200)
    c = inputs.longdoc(6, n_groups=2, n_solo=2, doc_words=200)
    assert a.files.equals(b.files) and np.array_equal(a.group, b.group)
    assert not a.files["content"].equals(c.files["content"])
    p = inputs.planted(5, n_clusters=4, n_distractors=4)
    assert p.files.equals(inputs.planted(5, n_clusters=4, n_distractors=4).files)


def test_longdoc_labels_near_misses_as_unlabelled():
    c = inputs.longdoc(1, n_groups=3, n_solo=1, doc_words=100)
    per_group = 2 + len(inputs.MATCH_RATES) + 1  # orig, copy, matches, prefix
    assert (c.group >= 0).sum() == 3 * per_group
    assert (c.group == -1).sum() == 3 * len(inputs.MISS_RATES) + 1


def test_pair_scores():
    # groups {0: a, b, c} and {1: d, e}; f unlabelled
    group = np.array([0, 0, 0, 1, 1, -1])
    assert pair_scores(np.array([1, 1, 1, 2, 2, 3]), group) == (1.0, 1.0)
    recall, precision = pair_scores(np.array([1, 1, 3, 2, 2, 3]), group)
    assert recall == 2 / 4 and precision == 2 / 3  # c-f is a false pair


def test_digest_ignores_row_order():
    df = pd.DataFrame({"file_id": [3, 1, 2], "cluster_id": [1, 1, 2]})
    assert digest(df) == digest(df.iloc[::-1])
    assert digest(df) != digest(df.assign(cluster_id=[1, 1, 1]))


def test_checker_rejects_corruption(tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    assert checker_rejects_corruption() == []


def test_event_log_groups_tasks_by_job_group(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "p-t1:buckets"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "counters"}},
    ]
    for sid, dur in [(0, 1000), (0, 3000), (1, 500), (2, 700)]:
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Launch Time": 0, "Finish Time": dur},
            "Task Metrics": {"Executor Run Time": dur, "Executor CPU Time": dur * 10**6,
                             "JVM GC Time": 10,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}},
        })
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    g = read_event_log(str(tmp_path))
    b = g["p-t1:buckets"]
    assert (b.jobs, b.tasks, b.shuffle_write_bytes) == (1, 3, 300)
    assert b.run_s == 4.5 and b.gc_s == 0.03
    assert b.task_skew() == 1.5  # busiest stage 0: max 3 s / median 2 s
    assert g["counters"].tasks == 1  # stage 1 stays with the job that ran it first


def test_selfcheck():
    root = os.path.dirname(HERE)
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--selfcheck"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    assert p.stdout.strip().splitlines()[-1] == "selfcheck ok"

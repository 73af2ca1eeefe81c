"""Self-check of the benchmark on tiny inputs.

    python3 perfbench/run.py --selfcheck

1. The output checker rejects corrupted cluster tables (a dropped file, a
   split exact-copy set, everything merged, a changed digest).
2. Both timed workloads run at the tiny size in one traced session: one
   plain and one traced step each (the traced planted run also drives
   the stream exercise, the traced longdoc run the resume exercise),
   whose outputs must pass every check, and the event log must attribute
   jobs to the traced steps.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pandas as pd

from perfbench.checks import DigestBook, check_clusters, digest, make_truth


def checker_rejects_corruption() -> list[str]:
    ids = np.array([10, 11, 12, 13, 14, 15], dtype=np.int64)
    group = np.array([0, 0, 0, 1, 1, -1])
    content = ["a", "a", "b", "c", "d", "e"]  # 10 and 11 are exact copies
    truth = make_truth(ids, group, content)
    good = pd.DataFrame({"file_id": ids, "cluster_id": [10, 10, 10, 13, 13, 15]})
    bad = {
        "dropped file": good.iloc[1:],
        "split exact copies": good.assign(cluster_id=ids),
        "all merged": good.assign(cluster_id=10),
    }
    errors = []
    if check_clusters(good, truth, 1.0, 1.0).problems:
        errors.append("checker rejects a correct table")
    for what, table in bad.items():
        if not check_clusters(table, truth, 0.9, 0.9).problems:
            errors.append(f"checker accepts a table with {what}")
    book_path = os.path.join(os.environ["TMPDIR"], "selfcheck-digests.json")
    book = DigestBook(book_path)
    book.agrees("k", digest(good))
    if DigestBook(book_path).agrees("k", digest(bad["all merged"])):
        errors.append("digest book accepts a changed digest")
    os.remove(book_path)
    return errors


def workloads_pass(run_dir: str) -> list[str]:
    from perfbench.eventlog import read_event_log
    from perfbench.run import nproc, per_layer, start_session, stop_session, timed_steps
    from perfbench.workloads import WORKLOADS

    errors = []
    spark = start_session(run_dir, trace=True)
    done = []
    try:
        for name in ("planted", "longdoc"):
            wl = WORKLOADS[name](spark, 1, "tiny", os.path.join(run_dir, name))
            wl.setup()
            steps = timed_steps(wl, 0, True, lambda m: print(f"[{name}] {m}", file=sys.stderr),
                                min_steps=2)
            for w, w_steps in [(wl, steps)] + wl.finish_trace():
                for i, s in enumerate(w_steps):
                    if s.problems:
                        errors.append(f"{w.name} step {i}: {s.problems}")
            done.append((wl, steps))
    finally:
        stop_session(spark)
    groups = read_event_log(os.path.join(run_dir, "events"))
    for wl, steps in done:
        layer = per_layer(wl, steps, groups, 0.0, nproc())
        if not layer["pipeline.jobs"]:
            errors.append(f"{wl.name}: no Spark jobs attributed to the traced step")
    return errors


def selfcheck() -> int:
    from perfbench.run import WORK

    run_dir = os.path.join(WORK, f"selfcheck-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        errors = checker_rejects_corruption() + workloads_pass(run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for e in errors:
        print(f"SELFCHECK FAIL: {e}", file=sys.stderr)
    print("selfcheck " + ("FAILED" if errors else "ok"))
    return 1 if errors else 0

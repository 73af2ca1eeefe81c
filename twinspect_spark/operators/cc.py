"""Distributed connected components over DataFrame joins (SURVEY.md G1).

The reference clusters with an in-memory adjacency dict + recursive DFS
(twinspect/datasets/ultils.py:60-91) — impossible at 10^12 edges. The
Spark-native replacement is hash-min label propagation:

  label(v) ← min(label(v), min over neighbors u of label(u))

iterated to fixpoint. Near-dup clusters have tiny diameters (a cluster is
a handful of edit-variants of one original), so convergence is typically
2-4 rounds; each round is one shuffle join + one aggregation. Graphs that
fit the driver skip the loop for one numpy pass (``_numpy_cc``).
``localCheckpoint()`` truncates lineage every round (Catalyst cannot
optimize across iterations and unchecked lineage grows exponentially —
SURVEY.md §4 item 2).

Cluster ids are ``min(file_id)`` of the component — stable under any
partitioning / edge order (determinism tests rely on this).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


DRIVER_CC_MAX_EDGES = 2_000_000  # ~32 MB of pairs — trivially driver-sized


def _numpy_cc(src, dst, *nodes):
    """Vectorized min-label propagation with pointer jumping (numpy):
    each round pushes the component-min across every edge and halves
    label-chain depth, so convergence is O(log diameter) rounds of O(E)
    vectorized work — the scalar union-find loop costs ~5s/M edges in
    Python; this is ~50ms/M. ``src``/``dst`` are int64 numpy arrays (one
    direction per edge); ``nodes`` are extra id arrays that no edge need
    touch (each untouched id is its own singleton component). Returns
    (sorted unique node ids, component-min label per id)."""
    import numpy as np

    ids, idx = np.unique(np.concatenate([src, dst, *nodes]), return_inverse=True)
    ia, ib = idx[: len(src)], idx[len(src):len(src) + len(dst)]
    lab = np.arange(len(ids), dtype=np.int64)
    while True:
        prev = lab.copy()
        # offer min labels across both edge directions, then pointer-jump
        np.minimum.at(lab, ia, lab[ib])
        np.minimum.at(lab, ib, lab[ia])
        lab = lab[lab]
        if np.array_equal(lab, prev):
            break
    # np.unique sorts ids, so index order == id order and the min label
    # index IS the min file_id of the component — same invariant as the
    # hash-min loop below
    return ids, ids[lab]


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    members: DataFrame | None = None,
    max_driver_edges: int | None = None,
    on_round=None,
) -> DataFrame:
    """edges(a, b) [+ vertices(file_id)] [+ members(a=rep, b=member)] →
    clusters(file_id, cluster_id): the whole cluster stage.

    Every edge endpoint gets its component min. Vertices not touched by
    any edge become singleton clusters (cluster_id = own file_id). Each
    member inherits its rep's label; a rep that no edge touches labels
    its members with its own id. The pipeline passes its exact-dup star
    edges as ``members``: feeding them into CC instead would re-derive
    already-known components through the iterative loop, and each rep
    is the min of its exact group, so component minima are unchanged.

    Size-aware strategy, decided once: when the edge list (and the
    member list, if given) has at most ``DRIVER_CC_MAX_EDGES`` rows, all
    inputs are collected and the clusters built in one numpy pass; the
    result is one ``createDataFrame`` with no upstream lineage, so there
    is nothing for a caller to checkpoint. Above it, hash-min label
    propagation over DataFrame joins (unbounded scale, lineage cut per
    round) runs to its fixpoint and the result is localCheckpointed.
    ``max_driver_edges`` overrides the threshold (0 forces the
    distributed loop for any non-empty input — used by the oracle gate to
    exercise it). ``on_round(it)`` is invoked after each distributed
    hash-min round materializes — the rounds-to-convergence
    instrumentation for the scale-evidence bench (bench.py --ccbench).
    """
    threshold = (
        DRIVER_CC_MAX_EDGES if max_driver_edges is None else max_driver_edges
    )
    # size probes on the DIRECTED edge lists (callers pass checkpoint-
    # backed scans): the driver path then needs only the Arrow toPandas
    # of each input — no symmetrized union, checkpoint or recount
    if edges.count() <= threshold and (
        members is None or members.count() <= threshold
    ):
        return _driver_clusters(edges, vertices, members)
    from pyspark import StorageLevel

    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
    sym = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # materialize the edge set ONCE, hash-partitioned on the join key,
    # as a CACHE (persist), not a checkpoint: an InMemoryRelation is a
    # plan leaf that PRESERVES outputPartitioning, so every round's
    # offers join co-partitions against it with zero edge-side exchange
    # — measured on this Spark build, a checkpointed RDD scan reports
    # unknown partitioning and the round-4 loop re-shuffled the full
    # edge list (the largest relation here) every round, the dominant
    # byte-bound term under the host DRAM ceiling (ccbench r4
    # efficiency 0.687). sym's own logical plan is built once from
    # `edges`, so the cache-lookup cost stays constant across rounds.
    # Caching also keeps the upstream pipeline (signatures, candidate
    # joins, verify UDFs) from re-executing per iteration.
    sym = sym.repartition(n_part, "src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sym.count()
    nodes = sym.select(F.col("src").alias("file_id")).distinct()
    # labels MUST roll forward through localCheckpoint, not persist: the
    # round recurrence references the previous labels twice (offers
    # probe + merge join), so without logical-plan truncation the plan
    # tree doubles per round — measured as driver planning time growing
    # 3.1 → 64.3 s/round by round 8 on the 6.1M-edge ccbench graph when
    # this loop briefly cached labels instead. The checkpoint costs the
    # label-side re-shuffle per round (the smaller relation), which the
    # cached sym makes the only large exchange besides the offer agg.
    labels = nodes.withColumn("label", F.col("file_id")).localCheckpoint()

    try:
        for it in itertools.count():
            # every node offers its label to each neighbor; keep the min
            # of (own label, best neighbor offer). Merging via a left
            # join (instead of union+groupBy over labels ∪ offers) keeps
            # the aggregation to the offer rows alone.
            offers = (
                sym.join(labels, sym.src == labels.file_id)
                .select(F.col("dst").alias("file_id"), "label")
            )
            offer_min = offers.groupBy("file_id").agg(
                F.min("label").alias("offer")
            )
            new_labels = (
                labels.join(offer_min, "file_id", "left")
                .select(
                    "file_id",
                    F.least(
                        F.col("label"), F.coalesce("offer", F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint()
            )
            if on_round is not None:
                on_round(it)
            # convergence check costs a driver-blocking job; dup graphs
            # have tiny diameters, so checking every 2nd round halves
            # the serial job count for (at worst) one extra cheap
            # iteration. No round cap: labels only decrease, so a round
            # with no change comes within diameter + 1 rounds, and any
            # earlier exit would return unconverged labels (long chains
            # from spanning-chained hot buckets are expected input)
            converged = it % 2 == 1 and (
                new_labels.alias("n")
                .join(labels.alias("o"), "file_id")
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
                == 0
            )
            labels = new_labels
            if converged:
                break
    finally:
        # labels live in checkpoint blocks (GC-cleaned); the sym cache
        # entry would outlive this call otherwise (CacheManager holds
        # it), accumulating across streaming batches
        sym.unpersist()

    labels = labels.select("file_id", F.col("label").alias("cluster_id"))
    clusters = labels
    if vertices is not None:
        clusters = clusters.unionByName(
            vertices.select("file_id")
            .join(labels, "file_id", "left_anti")
            .withColumn("cluster_id", F.col("file_id"))
        )
    if members is not None:
        clusters = clusters.unionByName(
            members.join(labels, F.col("a") == F.col("file_id"), "left")
            .select(
                F.col("b").alias("file_id"),
                F.coalesce("cluster_id", "a").alias("cluster_id"),
            )
        )
    return clusters.localCheckpoint()


def _driver_clusters(edges, vertices, members) -> DataFrame:
    """The distributed contract, built on the driver (see ``_numpy_cc``).
    Arrow toPandas, not collect(): per-Row materialization costs ~30s/M
    rows; the Arrow path moves the same edges in ~1s."""
    import numpy as np
    import pandas as pd

    def cols(df, *names):
        pdf = df.select(*names).toPandas()
        return [pdf[n].to_numpy(dtype=np.int64) for n in names]

    src, dst = cols(edges, "a", "b")
    # vertices join the node set, so untouched ones come out as singletons
    nodes = cols(vertices, "file_id") if vertices is not None else []
    ids, labels = _numpy_cc(src, dst, *nodes)
    if members is not None:
        rep, member = cols(members, "a", "b")
        # a rep absent from ids (no edge, not a vertex) keeps its own id
        pos = np.searchsorted(ids, rep)
        found = pos < len(ids)
        found[found] = ids[pos[found]] == rep[found]
        mlab = rep.copy()
        mlab[found] = labels[pos[found]]
        ids = np.concatenate([ids, member])
        labels = np.concatenate([labels, mlab])
    # explicit schema: empty inputs yield an empty frame Spark cannot
    # infer from, and pandas would type empty columns as float64
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"file_id": ids, "cluster_id": labels}),
        "file_id long, cluster_id long",
    )

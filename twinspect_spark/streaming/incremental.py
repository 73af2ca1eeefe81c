"""Incremental (streaming) near-duplicate detection.

The reference is strictly batch — its only incrementality is artifact
caching keyed by dataset checksum (twinspect/algos/processing.py:31-34).
This module adds the capability gap: new files arrive continuously, and
each micro-batch is deduplicated against everything seen so far without
recomputing — or even shuffling — the world.

State layout (plain parquet; the directory partitioning is the poor
man's Iceberg bucketing — the Iceberg migration only swaps the writer):

  state/batch_id=<id>/id_pt=<p>/      file rows (STATE_COLS), p =
                                      pmod(xxhash64(file_id), ID_PARTS)
  buckets/batch_id=<id>/bucket_pt=<p>/ the UNIFIED bucket table
                                      (operators/buckets.bucket_table:
                                      LSH bands + SimHash chunks in one
                                      keyspace), p = pmod(xxhash64(space,
                                      bucket_idx, bucket_key), BUCKET_PARTS)
  edges/batch_id=<id>/                verified pair edges
  clusters/batch_id=<id>/id_pt=<p>/   APPEND-ONLY arrival assignments:
                                      one immutable (file_id, cluster_id)
                                      row per file, written once when the
                                      file arrives
  remap/batch_id=<id>/                composed label remap
                                      (old_label → new_label), small —
                                      ALL later reassignment flows
                                      through it, never through row
                                      rewrites
  dead/batch_id=<id>/                 bucket tombstones: one row per
                                      bucket key whose occupancy crossed
                                      the frequency cap (written at
                                      bucket compaction; those keys are
                                      candidate-ineligible forever)
  _meta.json                          commit record: format version,
                                      high-water mark + exception list,
                                      cluster + bucket compaction bases.
                                      Atomic rename is the commit point.

Why this scales where a naive design is O(|state|) per batch:

1. Bucket rows are computed ONCE per file at arrival and appended —
   never recomputed from accumulated signatures.
2. Candidate generation reads the stored bucket table pruned to the
   directory partitions the new batch touches (PartitionFilters on
   bucket_pt + batch_id) and BROADCAST-semi-joins the new batch's bucket
   keys against it: the accumulated side is scanned (pruned), never
   shuffled.
3. Bucket-size frequency caps are aggregated over the COMBINED occupancy
   of touched buckets only (matched stored rows + new rows), for BOTH
   spaces — LSH bands and SimHash chunks — exactly as the batch
   unified_candidates path caps both.
4. Signature/content lookups for verification fetch only the candidate
   endpoints: pruned scan on id_pt + broadcast semi-join on file_id.
5. Cluster assignments are append-only: each file's arrival row is
   written once and never touched again. Merges write ONLY a composed
   (old_label → new_label) remap — O(total merges) rows, reset by
   compaction — so per-batch cluster-store write bytes track |batch|,
   not |state|. The current assignment is
   ``coalesce(remap[cluster_id], cluster_id)`` — one broadcast join.
   When the remap outgrows ``compact_remap_rows`` the store folds it
   into a resolved snapshot (clusters/batch_id=<base>/) and clears it —
   the LSM/Iceberg compaction idiom.
6. The bucket store is LSM-compacted every ``compact_buckets_every``
   batches: member rows of buckets past the frequency cap — permanently
   candidate-ineligible, since occupancy only grows — are dropped and
   replaced by one tombstone row per key, so the per-batch candidate
   probe scans LIVE bucket bytes, not the full append history (a hot
   boilerplate band otherwise accumulates dead members linearly
   forever and the probe re-reads them every batch).
7. Commit bookkeeping is O(1) in stream length: a high-water mark W
   ("all batches ≤ W committed") + a usually-empty exception list,
   rewritten atomically per batch; the committed-rows predicate is a
   constant-size PartitionFilter, not a growing IN-list.

Replay safety (Structured Streaming retry semantics): every per-batch
write goes to a batch-scoped directory with mode("overwrite"), so a
replayed batch REPLACES its own partial output instead of appending;
readers filter to committed batch_ids, so a crashed batch's partial
files are invisible; the atomic _meta.json rename is the commit point.

Contract: a file_id (xxhash64 of repo,path,commit) arrives at most once
across the stream; re-sends of the same batch are deduplicated by the
commit record, not by content. Micro-batches are assumed broadcast-sized
(thousands of files); bulk backfills belong to the batch pipeline.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twinspect_spark.config import DedupConfig
from twinspect_spark.ingest import FILES_SCHEMA, ingest_files
from twinspect_spark.operators.buckets import bucket_table
from twinspect_spark.operators.cc import connected_components
from twinspect_spark.operators.verify import (
    estimate_filter_candidates,
    verify_pairs,
)
from twinspect_spark.signatures import compute_signatures

STATE_COLS = ["file_id", "sha256", "size", "content_norm", "minhash", "mh16", "simhash"]
BUCKET_COLS = ["file_id", "simhash", "space", "bucket_idx", "bucket_key"]
REMAP_SCHEMA = "old_label long, new_label long"

STORE_FORMAT = 3
META = "_meta.json"

# Directory-partition fan-out of the two stores. At 10^12-file scale
# these become Iceberg bucket transforms with far higher counts; here
# they bound how much of the store a small batch's pruned scan touches.
ID_PARTS = 64
BUCKET_PARTS = 64

_MARKER_RE = re.compile(r"_batch_(\d+)\.done$")  # v1 layout, detect-only
_BATCH_DIR_RE = re.compile(r"batch_id=(\d+)$")


def _id_pt() -> F.Column:
    return F.pmod(F.xxhash64("file_id"), F.lit(ID_PARTS)).cast("int")


def _bucket_pt() -> F.Column:
    return F.pmod(
        F.xxhash64("space", "bucket_idx", "bucket_key"), F.lit(BUCKET_PARTS)
    ).cast("int")


class DedupStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        compact_remap_rows: int = 100_000,
        compact_buckets_every: int = 8,
    ):
        self.spark = spark
        self.root = root
        self.compact_remap_rows = compact_remap_rows
        self.compact_buckets_every = compact_buckets_every
        os.makedirs(root, exist_ok=True)
        self._meta = self._load_meta()
        self._pending_base: int | None = None
        self._pending_bucket_base: int | None = None

    # ---- commit record -------------------------------------------------

    def _load_meta(self) -> dict:
        p = self._path(META)
        if os.path.exists(p):
            with open(p) as f:
                m = json.load(f)
            if m.get("format") != STORE_FORMAT:
                raise ValueError(
                    f"store at {self.root} has format {m.get('format')}; "
                    f"this build reads format {STORE_FORMAT} — rebuild the "
                    "store (no in-place migration)"
                )
            # additive field (round 5); absent in stores written before
            # bucket compaction existed — semantics of 0 are identical
            m.setdefault("bucket_base", 0)
            return m
        if any(_MARKER_RE.match(f) for f in os.listdir(self.root)):
            raise ValueError(
                f"store at {self.root} is format v1 (per-batch .done "
                "markers, flat clusters/); this build reads format "
                f"{STORE_FORMAT} — rebuild the store"
            )
        return {
            "format": STORE_FORMAT,
            "high_water": -1,   # all batch_ids <= this are committed
            "exceptions": [],   # committed ids > high_water (out-of-order)
            "cluster_base": 0,  # clusters/remap dirs < this were compacted
            "bucket_base": 0,   # buckets/dead dirs < this were compacted
        }

    def _write_meta(self) -> None:
        """Atomic rewrite — the rename IS the batch commit point."""
        tmp = self._path(META + ".tmp")
        with open(tmp, "w") as f:
            json.dump(self._meta, f)
        os.replace(tmp, self._path(META))

    def committed_pred(self) -> F.Column:
        """O(1)-size committed-batch predicate regardless of stream
        length (v1 grew an isin() literal per batch); batch_id is a
        directory partition, so this prunes at file-listing time."""
        pred = F.col("batch_id") <= self._meta["high_water"]
        if self._meta["exceptions"]:
            pred = pred | F.col("batch_id").isin(self._meta["exceptions"])
        return pred

    def committed_ids(self) -> list[int]:
        return sorted(
            set(range(self._meta["high_water"] + 1))
            | set(self._meta["exceptions"])
        )

    def batch_done(self, batch_id: int) -> bool:
        return (
            batch_id <= self._meta["high_water"]
            or batch_id in self._meta["exceptions"]
        )

    def mark_batch(self, batch_id: int) -> None:
        """Fold ``batch_id`` into the high-water mark: contiguous commits
        advance W and the exception list stays empty; out-of-order ones
        park in it until the gap closes."""
        m = self._meta
        ex = set(m["exceptions"])
        ex.add(batch_id)
        w = m["high_water"]
        while w + 1 in ex:
            w += 1
            ex.discard(w)
        m["high_water"], m["exceptions"] = w, sorted(ex)
        if self._pending_base is not None:
            m["cluster_base"] = self._pending_base
            self._pending_base = None
        if self._pending_bucket_base is not None:
            m["bucket_base"] = self._pending_bucket_base
            self._pending_bucket_base = None
        self._write_meta()

    # ---- paths / reads -------------------------------------------------

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _has(self, name: str) -> bool:
        p = self._path(name)
        if not os.path.exists(p):
            return False
        for _, _, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _read_committed(self, name: str) -> DataFrame | None:
        """Read a batch-partitioned store, visible-committed rows only."""
        if not self._has(name):
            return None
        df = self.spark.read.parquet(self._path(name))
        return df.where(self.committed_pred())

    def state(self) -> DataFrame | None:
        df = self._read_committed("state")
        return None if df is None else df.select(*STATE_COLS)

    def buckets(self) -> DataFrame | None:
        """Committed LIVE bucket rows WITH the bucket_pt partition column
        (the caller prunes on it before any join). Dirs below
        ``bucket_base`` were folded by ``compact_buckets`` and are
        invisible; rows of tombstoned (over-cap) buckets are dropped at
        compaction, so probe bytes track live buckets, not history."""
        df = self._read_committed("buckets")
        if df is None:
            return None
        df = df.where(F.col("batch_id") >= self._meta["bucket_base"])
        return df.select(*BUCKET_COLS, "bucket_pt")

    def dead_buckets(self) -> DataFrame | None:
        """Committed tombstones: bucket keys whose STORED occupancy has
        exceeded the frequency cap. Occupancy only grows, so once over
        the cap a bucket can never produce candidates again — its member
        rows are dropped at compaction and this one-row-per-key relation
        keeps the cap semantics exact (the probe excludes these keys the
        way the live count check would have)."""
        df = self._read_committed("dead")
        if df is None:
            return None
        return df.where(
            F.col("batch_id") >= self._meta["bucket_base"]
        ).select("space", "bucket_idx", "bucket_key")

    def state_rows_for(self, ids: DataFrame) -> DataFrame | None:
        """Committed state rows for the given ids(file_id) — pruned
        directory scan (id_pt IN touched) + broadcast semi-join, so the
        fetch cost tracks |ids|, not |state|."""
        df = self._read_committed("state")
        if df is None:
            return None
        pts = [
            r[0]
            for r in ids.select(_id_pt().alias("pt")).distinct().collect()
        ]
        return (
            df.where(F.col("id_pt").isin(pts))
            .join(F.broadcast(ids.select("file_id")), "file_id", "left_semi")
            .select(*STATE_COLS)
        )

    def edges(self) -> DataFrame | None:
        return self._read_committed("edges")

    # ---- cluster store (append-only rows + label remap) ----------------

    def _stored_clusters(self) -> DataFrame | None:
        """Raw arrival rows (committed, >= compaction base), WITHOUT
        remap resolution; keeps id_pt for pruned lookups."""
        df = self._read_committed("clusters")
        if df is None:
            return None
        return df.where(F.col("batch_id") >= self._meta["cluster_base"])

    def remap_table(self) -> DataFrame | None:
        """The composed (old_label → new_label) remap as of the LATEST
        committed batch that wrote one. Bounded by compact_remap_rows —
        always broadcast-sized by construction."""
        p = self._path("remap")
        if not os.path.exists(p):
            return None
        best = -1
        for d in os.listdir(p):
            m = _BATCH_DIR_RE.match(d)
            if m and self.batch_done(int(m.group(1))):
                best = max(best, int(m.group(1)))
        if best < 0:
            return None
        return self.spark.read.parquet(
            self._path(f"remap/batch_id={best}")
        )

    @staticmethod
    def _resolve(asg: DataFrame, rm: DataFrame | None) -> DataFrame:
        """assignment ∘ remap: one broadcast join, the ONLY read-side
        cost the remap design adds."""
        if rm is None:
            return asg.select("file_id", "cluster_id")
        return (
            asg.join(
                F.broadcast(rm),
                asg.cluster_id == rm.old_label,
                "left",
            )
            .select(
                "file_id",
                F.coalesce("new_label", "cluster_id").alias("cluster_id"),
            )
        )

    def clusters(self) -> DataFrame | None:
        """Current assignment: append-only arrival rows resolved through
        the (small, broadcast) label remap."""
        stored = self._stored_clusters()
        if stored is None:
            return None
        return self._resolve(stored, self.remap_table())

    def cluster_rows_for(self, ids: DataFrame) -> DataFrame | None:
        """Current assignments for specific file_ids — pruned id_pt scan
        + broadcast semi-join + remap resolve: O(|ids|), never a full
        store scan (v1 joined new edges against the whole relation)."""
        stored = self._stored_clusters()
        if stored is None:
            return None
        pts = [
            r[0]
            for r in ids.select(_id_pt().alias("pt")).distinct().collect()
        ]
        hit = (
            stored.where(F.col("id_pt").isin(pts))
            .join(F.broadcast(ids.select("file_id")), "file_id", "left_semi")
        )
        return self._resolve(hit, self.remap_table())

    # ---- writes --------------------------------------------------------

    def write_batch(self, name: str, df: DataFrame, batch_id: int,
                    partition_col: str | None = None) -> None:
        """Batch-scoped overwrite: a replayed batch replaces its own
        directory instead of appending (idempotent under Structured
        Streaming's retry semantics)."""
        if partition_col:
            # ONE file per directory partition per batch: without this,
            # every write task holding rows of every partition value
            # emits its own file into every dir — measured at 32 tasks
            # × 64 dirs ≈ 2,000 ~13 KB files PER BATCH, and the
            # accumulated store's per-batch probe scan then pays file
            # listing/open cost linear in BATCH COUNT × 2,000 (the
            # round-4 streambench caught per-batch wall growing 47 →
            # 210 s on exactly this). Shuffling |batch| rows by the
            # partition key is the flat, batch-sized cost that buys a
            # flat store: 64 files per batch, listing stays trivial.
            df = df.repartition(F.col(partition_col))
        w = df.write.mode("overwrite")
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(self._path(f"{name}/batch_id={batch_id}"))

    def compact_clusters(
        self, batch_id: int, extra: DataFrame, rm: DataFrame
    ) -> None:
        """Fold the remap into a resolved snapshot: rewrite all arrival
        rows with their CURRENT labels (resolved through ``rm``, this
        batch's composed remap) into this batch's clusters dir, write an
        empty remap, and (at commit) advance cluster_base so older dirs
        become invisible. Amortized O(|state| / period); replay-safe
        because the base only moves at mark_batch. GC of the superseded
        dirs happens after commit."""
        stored = self._stored_clusters()
        full = self._resolve(stored, rm) if stored is not None else None
        full = extra if full is None else full.unionByName(extra)
        self.write_batch(
            "clusters", full.withColumn("id_pt", _id_pt()), batch_id, "id_pt"
        )
        self.write_batch(
            "remap",
            self.spark.createDataFrame([], REMAP_SCHEMA).repartition(1),
            batch_id,
        )
        self._pending_base = batch_id

    def compact_buckets(self, batch_id: int, bk_new: DataFrame,
                        cap: int) -> None:
        """LSM-fold the bucket store (round-5 streambench follow-up):
        fold all visible bucket dirs + this batch's rows into ONE
        compacted dir under this batch_id, dropping the member rows of
        every bucket whose stored occupancy exceeds ``cap`` and writing
        one tombstone row per such key instead. Probe-scan bytes then
        track LIVE buckets: without this, a hot bucket (boilerplate
        band, the bench's planted clique) accumulates members linearly
        forever while being permanently ineligible for candidates —
        dead bytes re-read every batch. Amortized O(live state / period);
        replay-safe because bucket_base only advances at mark_batch."""
        keys = ["space", "bucket_idx", "bucket_key"]
        stored = self.buckets()
        allrows = (
            bk_new
            if stored is None
            else stored.select(*BUCKET_COLS).unionByName(
                bk_new.select(*BUCKET_COLS)
            )
        )
        old_dead = self.dead_buckets()
        counts = allrows.groupBy(*keys).count()
        new_dead = counts.where(F.col("count") > cap).select(*keys)
        dead = (
            new_dead
            if old_dead is None
            else old_dead.unionByName(new_dead).distinct()
        ).localCheckpoint()
        live = allrows.join(dead, keys, "left_anti")
        self.write_batch(
            "buckets", live.withColumn("bucket_pt", _bucket_pt()),
            batch_id, "bucket_pt",
        )
        # tombstones: one row per dead key — small by construction (hot
        # buckets are rare); a handful of files keeps listing trivial
        self.write_batch("dead", dead.repartition(2), batch_id)
        self._pending_bucket_base = batch_id

    def gc_compacted(self) -> None:
        """Remove batch dirs superseded by their compaction base. Safe
        anytime after commit: readers never touch dirs below the base,
        and committed batches are never replayed."""
        for names, base in (
            (("clusters", "remap"), self._meta["cluster_base"]),
            (("buckets", "dead"), self._meta["bucket_base"]),
        ):
            for name in names:
                p = self._path(name)
                if not os.path.exists(p):
                    continue
                for d in os.listdir(p):
                    m = _BATCH_DIR_RE.match(d)
                    if m and int(m.group(1)) < base:
                        shutil.rmtree(os.path.join(p, d), ignore_errors=True)


def _incremental_candidates(
    bk_new: DataFrame, store: DedupStore, cfg: DedupConfig
) -> DataFrame:
    """Candidate pairs touching ≥1 new file, against the stored unified
    bucket table. The stored side is scanned pruned (bucket_pt +
    committed batch_id PartitionFilters) and broadcast-semi-joined on the
    new batch's bucket keys — never shuffled, never recomputed. Frequency
    caps use the COMBINED occupancy of each touched bucket (stored
    matches + new members) in BOTH spaces; the SimHash Hamming post-
    filter applies to chunk-space pairs exactly as in batch
    (operators/buckets.unified_candidates)."""
    keys = ["space", "bucket_idx", "bucket_key"]
    stored = store.buckets()
    if stored is not None:
        pts = [
            r[0]
            for r in bk_new.select(_bucket_pt().alias("pt")).distinct().collect()
        ]
        matched = (
            stored.where(F.col("bucket_pt").isin(pts))
            .join(F.broadcast(bk_new.select(*keys).distinct()), keys, "left_semi")
            .select(*BUCKET_COLS)
        )
        combined = matched.unionByName(bk_new.select(*BUCKET_COLS))
    else:
        combined = bk_new.select(*BUCKET_COLS)

    sizes = combined.groupBy(*keys).count()
    keep = sizes.where(
        (F.col("count") > 1) & (F.col("count") <= cfg.max_band_bucket)
    ).select(*keys)
    dead = store.dead_buckets()
    if dead is not None:
        # tombstoned keys crossed the cap before their member rows were
        # compacted away; the live count alone could fall back under the
        # cap and wrongly re-admit them — the anti-join preserves the
        # exact over-cap-forever semantics of the uncompacted store
        keep = keep.join(dead, keys, "left_anti")
    left = bk_new.join(keep, keys, "left_semi").select(
        *keys, F.col("file_id").alias("x"), F.col("simhash").alias("sim_x")
    )
    right = combined.join(keep, keys, "left_semi").select(
        *keys, F.col("file_id").alias("y"), F.col("simhash").alias("sim_y")
    )
    hamming_ok = (F.col("space") == 0) | (
        F.bit_count(F.col("sim_x").bitwiseXOR(F.col("sim_y")))
        <= cfg.hamming_threshold
    )
    src_col = F.when(F.col("space") == 0, "lsh").otherwise("simhash")
    pairs = (
        left.join(right, keys)
        .where(F.col("x") != F.col("y"))
        .where(hamming_ok)
        .select(
            F.least("x", "y").alias("a"),
            F.greatest("x", "y").alias("b"),
            src_col.alias("src"),
        )
    )
    return pairs.groupBy("a", "b").agg(F.min("src").alias("src"))


def _cluster_fold(
    spark: SparkSession,
    store: DedupStore,
    edges_new: DataFrame,
    new_vertices: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Merge this batch's verified edges into the cluster store WITHOUT
    touching existing rows: returns (arrival_rows, composed_remap).

    Contraction: endpoints of the new edges are mapped through their
    CURRENT assignment (an endpoint with none maps to itself) — fetched
    via the pruned id_pt lookup, O(|endpoints|) — contracting every
    existing component to its min-id representative; CC on that
    contracted graph is O(new edges). The resulting (old_label → new_label) delta is
    composed onto the store's remap; new files' arrival rows are written
    already-resolved, so only once-minimal labels ever enter the remap.
    ``cluster_id = min(file_id)`` survives: contracted node ids ARE
    component minima, so the contracted CC's min is the global min."""
    ep = (
        edges_new.select(F.col("a").alias("file_id"))
        .unionByName(edges_new.select(F.col("b").alias("file_id")))
        .distinct()
    )
    old_asg = store.cluster_rows_for(ep)
    if old_asg is None:
        old_asg = spark.createDataFrame([], "file_id long, cluster_id long")
    ca = old_asg.select(F.col("file_id").alias("a"), F.col("cluster_id").alias("la"))
    cb = old_asg.select(F.col("file_id").alias("b"), F.col("cluster_id").alias("lb"))
    contracted = (
        edges_new.join(F.broadcast(ca), "a", "left")
        .join(F.broadcast(cb), "b", "left")
        .select(
            F.coalesce("la", F.col("a")).alias("a"),
            F.coalesce("lb", F.col("b")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
    )
    delta = (
        connected_components(contracted)
        .where(F.col("file_id") != F.col("cluster_id"))
        .select(
            F.col("file_id").alias("old_label"),
            F.col("cluster_id").alias("new_label"),
        )
        .localCheckpoint()
    )
    arrivals = (
        new_vertices.select("file_id")
        .join(
            F.broadcast(delta),
            new_vertices.file_id == delta.old_label,
            "left",
        )
        .select(
            "file_id",
            F.coalesce("new_label", "file_id").alias("cluster_id"),
        )
    )
    rm = store.remap_table()
    if rm is None:
        composed = delta
    else:
        mid = delta.select(
            F.col("old_label").alias("mid"), F.col("new_label").alias("nl2")
        )
        rechained = (
            rm.join(F.broadcast(mid), rm.new_label == F.col("mid"), "left")
            .select(
                "old_label",
                F.coalesce("nl2", "new_label").alias("new_label"),
            )
        )
        composed = (
            rechained.unionByName(delta)
            .groupBy("old_label")
            .agg(F.min("new_label").alias("new_label"))
        )
    return arrivals, composed.localCheckpoint()


def process_batch(
    spark: SparkSession,
    batch_files: DataFrame,
    store: DedupStore,
    cfg: DedupConfig,
    batch_id: int = 0,
) -> None:
    """One micro-batch: signatures → incremental candidates → verify →
    cluster fold → commit. Idempotent per batch_id (commit-record
    short-circuit; all writes overwrite their own batch dir)."""
    if store.batch_done(batch_id):
        return
    ingested_new = ingest_files(batch_files, cfg).localCheckpoint()
    if ingested_new.isEmpty():
        store.mark_batch(batch_id)
        return
    sigs_new = compute_signatures(ingested_new, cfg)
    new_state = (
        ingested_new.select("file_id", "sha256", "size", "content_norm")
        .join(sigs_new.select("file_id", "minhash", "mh16", "simhash"), "file_id")
        .select(*STATE_COLS)
        .localCheckpoint()
    )

    bk_new = bucket_table(new_state, cfg).localCheckpoint()
    cand = _incremental_candidates(bk_new, store, cfg)

    # verification lookups: candidate endpoints only — old rows fetched
    # via pruned scan + broadcast semi-join, new rows from memory
    ids = (
        cand.select(F.col("a").alias("file_id"))
        .unionByName(cand.select(F.col("b").alias("file_id")))
        .distinct()
        .localCheckpoint()
    )
    fetched_old = store.state_rows_for(ids)
    lookup = (
        new_state
        if fetched_old is None
        else fetched_old.unionByName(new_state)
    )
    # the estimate kernel applies the batch path's MinHash prefix gate
    # (these pairs skip the bucket join, where batch pairs first meet it)
    cand = estimate_filter_candidates(cand, lookup, cfg)
    pairs = verify_pairs(cand, lookup, cfg)
    edges_new = (
        pairs.where("verified")
        .select("a", "b", "jaccard", "method")
        .localCheckpoint()
    )

    arrivals, composed = _cluster_fold(
        spark, store, edges_new.select("a", "b"),
        new_state.select("file_id"),
    )

    store.write_batch(
        "state", new_state.withColumn("id_pt", _id_pt()), batch_id, "id_pt"
    )
    every = store.compact_buckets_every
    if every and batch_id % every == every - 1:
        # periodic LSM fold replaces the plain append: this batch's dir
        # absorbs the whole live store and over-cap member rows become
        # tombstones (probe bytes track live buckets, not history)
        store.compact_buckets(batch_id, bk_new, cfg.max_band_bucket)
    else:
        store.write_batch(
            "buckets",
            bk_new.withColumn("bucket_pt", _bucket_pt()),
            batch_id,
            "bucket_pt",
        )
    # few-MB relation: cap its file count so the edge store's listing
    # cost stays trivial across thousands of batches
    store.write_batch("edges", edges_new.repartition(2), batch_id)
    if composed.count() > store.compact_remap_rows:
        # arrivals are already resolved as of this batch, so they join
        # the snapshot verbatim; the fold's composed remap is exactly
        # what the snapshot absorbs
        store.compact_clusters(batch_id, arrivals.localCheckpoint(), composed)
    else:
        store.write_batch(
            "clusters",
            arrivals.withColumn("id_pt", _id_pt()),
            batch_id,
            "id_pt",
        )
        # remap is broadcast-small by construction — one part file
        store.write_batch("remap", composed.repartition(1), batch_id)
    store.mark_batch(batch_id)
    store.gc_compacted()


def incremental_dedup_stream(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    cfg: DedupConfig | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Structured Streaming entry: watch ``input_path`` for new parquet
    files of the files schema; fold each micro-batch into the store.
    Returns the StreamingQuery (caller awaits termination)."""
    cfg = cfg or DedupConfig()
    store = DedupStore(spark, store_root)
    stream = spark.readStream.schema(FILES_SCHEMA).parquet(input_path)
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: process_batch(spark, df, store, cfg, bid)
    ).option(
        "checkpointLocation", checkpoint or os.path.join(store_root, "_ckpt")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

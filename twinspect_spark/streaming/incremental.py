"""Incremental (streaming) near-duplicate detection.

The reference is strictly batch — its only incrementality is artifact
caching keyed by dataset checksum (twinspect/algos/processing.py:31-34).
This module adds the capability gap: new files arrive continuously, and
each micro-batch is deduplicated against everything seen so far without
recomputing — or even shuffling — the world.

State layout (plain parquet; the directory partitioning is the poor
man's Iceberg bucketing — the Iceberg migration only swaps the writer):

  state/batch_id=<id>/id_pt=<p>/      one row (STATE_COLS) per distinct
                                      content: exact copies get none,
                                      p = pmod(xxhash64(file_id), ID_PARTS)
  hashes/batch_id=<id>/sha_pt=<p>/    (sha256, file_id) of each state row,
                                      p = pmod(xxhash64(sha256), ID_PARTS)
  buckets/batch_id=<id>/bucket_pt=<p>/ the batch pipeline's packed bucket
                                      rows (operators/buckets.
                                      packed_bucket_table: file_id,
                                      simhash, mp0.., bucket), one per
                                      (file, band or chunk), p =
                                      pmod(xxhash64(bucket), BUCKET_PARTS)
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
                                      packed bucket whose occupancy crossed
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
2. Candidate generation reads the stored bucket rows pruned to the
   directory partitions the new batch touches (PartitionFilters on
   bucket_pt + batch_id) and BROADCAST-semi-joins the new batch's bucket
   keys against it: the accumulated side is scanned (pruned), never
   shuffled whole. Exact copies are collapsed before signatures, within
   the batch and against the stored hashes (pruned sha_pt scan of the
   hashes store + broadcast semi-join on the batch's hashes), so a
   copied file adds no bucket row and cannot push a bucket past the cap.
3. The candidate generator IS the batch one: the touched buckets'
   stored rows ∪ the new rows go through operators/buckets.cap_buckets
   (count over the COMBINED occupancy, cap) and bucket_pairs (all-pairs
   or spanning chain, Hamming and packed prefix gates, pair dedupe).
   The only stream-specific step keeps pairs with ≥ 1 new endpoint
   (broadcast joins, no shuffle). Occupancy only grows, and two chain
   neighbours in a bucket's final order are neighbours when the later
   one arrives, so every pair run_dedup emits is emitted by some batch:
   stream clusters equal run_dedup's or are coarser. (One gap: a
   content's representative is its first-arriving copy here and its
   min file_id in run_dedup, which can reorder chain members of equal
   simhash.)
4. Signature/content lookups for verification fetch only the candidate
   endpoints: pruned scan on id_pt + broadcast semi-join on file_id.
   (The pruning is by directory: a batch of a few hundred files
   touches most of the 64 partitions, and each holds one file per
   committed batch, so these lookups, like the copy check's, still
   list and open O(batches) files: state and hashes are never
   compacted.)
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
   replaced by one tombstone row per packed bucket, which the probe
   anti-joins before the cap, so the per-batch candidate
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
commit record, not by content. A byte-identical copy of an earlier file
is linked to it by an exact edge and clustered with it, never signed.
Micro-batches are assumed broadcast-sized (thousands of files); bulk
backfills belong to the batch pipeline.

Every read names its store's schema, so a read infers none (schema
inference is one Spark job per read). Partition discovery lists a
store's batch directories on the driver up to max(ID_PARTS,
BUCKET_PARTS) of them and in one Spark job above that
(session.get_spark), never in one job per batch directory.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from twinspect_spark.config import DedupConfig
from twinspect_spark.ingest import FILES_SCHEMA, ingest_files
from twinspect_spark.operators.buckets import (
    bucket_pairs,
    cap_buckets,
    packed_bucket_table,
)
from twinspect_spark.operators.cc import connected_components
from twinspect_spark.operators.exact import collapse_exact_dups
from twinspect_spark.operators.verify import (
    estimate_filter_candidates,
    verify_pairs,
)
from twinspect_spark.signatures import compute_signatures

STATE_COLS = ["file_id", "size", "content_norm", "mh16"]
REMAP_SCHEMA = "old_label long, new_label long"
# stored schemas, partition columns included; the bucket store's rows
# are packed_bucket_table's, whose prefix-word count follows the config
_SCHEMAS = {
    "state": "file_id long, size long, content_norm string, "
    "mh16 array<smallint>, batch_id int, id_pt int",
    "hashes": "sha256 string, file_id long, batch_id int, sha_pt int",
    "clusters": "file_id long, cluster_id long, batch_id int, id_pt int",
    "edges": "a long, b long, jaccard double, method string, batch_id int",
    "dead": "bucket long, batch_id int",
}

STORE_FORMAT = 4
META = "_meta.json"

# Directory-partition fan-out of the two stores. At 10^12-file scale
# these become Iceberg bucket transforms with far higher counts; here
# they bound how much of the store a small batch's pruned scan touches.
ID_PARTS = 64
BUCKET_PARTS = 64

_MARKER_RE = re.compile(r"_batch_(\d+)\.done$")  # v1 layout, detect-only
_BATCH_DIR_RE = re.compile(r"batch_id=(\d+)$")


def _pt(col: str, parts: int = ID_PARTS) -> F.Column:
    """The directory partition of ``col``: pmod(xxhash64(col), parts)."""
    return F.pmod(F.xxhash64(col), F.lit(parts)).cast("int")


def _pruned_semi(
    stored: DataFrame, keys: DataFrame, key: str, pt: str
) -> DataFrame:
    """Rows of ``stored`` whose ``key`` is in ``keys``: a scan pruned to
    the ``pt`` directory partitions the keys fall in (``keys`` carries
    ``pt``), semi-joined on the broadcast keys — the cost tracks |keys|,
    not the store."""
    pts = [r[0] for r in keys.select(pt).distinct().collect()]
    return stored.where(F.col(pt).isin(pts)).join(
        F.broadcast(keys.select(key)), key, "left_semi"
    )


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

    def _read_committed(
        self, name: str, schema: str | T.StructType | None = None
    ) -> DataFrame | None:
        """Read a batch-partitioned store, visible-committed rows only,
        with its fixed schema (``_SCHEMAS[name]`` unless given)."""
        if not self._has(name):
            return None
        df = self.spark.read.schema(schema or _SCHEMAS[name]).parquet(
            self._path(name)
        )
        return df.where(self.committed_pred())

    def state(self) -> DataFrame | None:
        df = self._read_committed("state")
        return None if df is None else df.select(*STATE_COLS)

    def buckets(self, rows: T.StructType) -> DataFrame | None:
        """Committed LIVE bucket rows, ``rows`` being the schema of the
        packed rows the store holds (bucket_pt included, which the
        caller prunes on before any join). Dirs below ``bucket_base``
        were folded by ``compact_buckets`` and are invisible; rows of
        tombstoned (over-cap) buckets are dropped at compaction, so
        probe bytes track live buckets, not history."""
        schema = T.StructType(rows.fields).add("batch_id", T.IntegerType())
        df = self._read_committed("buckets", schema)
        if df is None:
            return None
        df = df.where(F.col("batch_id") >= self._meta["bucket_base"])
        return df.select(*rows.fieldNames())

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
        ).select("bucket")

    def state_rows_for(self, ids: DataFrame) -> DataFrame | None:
        """Committed state rows for the given ids(file_id) — pruned
        directory scan (id_pt IN touched) + broadcast semi-join, so the
        fetch cost tracks |ids|, not |state|."""
        df = self._read_committed("state")
        if df is None:
            return None
        keys = ids.withColumn("id_pt", _pt("file_id"))
        return _pruned_semi(df, keys, "file_id", "id_pt").select(*STATE_COLS)

    def hash_rows_for(self, hashes: DataFrame) -> DataFrame | None:
        """Committed (file_id, sha256) rows of the given hashes(sha256) —
        pruned sha_pt scan + broadcast semi-join, so the copy check's
        cost tracks the batch, not the store. At most one row per hash:
        only a content's first file is stored."""
        df = self._read_committed("hashes")
        if df is None:
            return None
        keys = hashes.withColumn("sha_pt", _pt("sha256"))
        return _pruned_semi(df, keys, "sha256", "sha_pt").select(
            "file_id", "sha256"
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
        return self.spark.read.schema(REMAP_SCHEMA).parquet(
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
        keys = ids.withColumn("id_pt", _pt("file_id"))
        hit = _pruned_semi(stored, keys, "file_id", "id_pt")
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
        full = full.withColumn("id_pt", _pt("file_id"))
        self.write_batch("clusters", full, batch_id, "id_pt")
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
        stored = self.buckets(bk_new.schema)
        allrows = bk_new if stored is None else stored.unionByName(bk_new)
        old_dead = self.dead_buckets()
        counts = allrows.groupBy("bucket").count()
        new_dead = counts.where(F.col("count") > cap).select("bucket")
        dead = (
            new_dead
            if old_dead is None
            else old_dead.unionByName(new_dead).distinct()
        ).localCheckpoint()
        live = allrows.join(dead, "bucket", "left_anti")
        self.write_batch("buckets", live, batch_id, "bucket_pt")
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


def _collapse_copies(
    ingested: DataFrame, store: DedupStore
) -> tuple[DataFrame, DataFrame]:
    """→ (reps, copy_edges(a, b)): one representative per content the
    store has not seen, and an edge from each copy to its representative
    — the batch's min file_id of its content, or the stored file of
    that content. Copies get no state, hash or bucket row."""
    stored = store.hash_rows_for(ingested.select("sha256"))
    if stored is None:
        return collapse_exact_dups(ingested)
    stored = stored.localCheckpoint()
    reps, copy_edges = collapse_exact_dups(
        ingested.join(F.broadcast(stored), "sha256", "left_anti")
    )
    to_stored = ingested.join(
        F.broadcast(stored.withColumnRenamed("file_id", "a")), "sha256"
    ).select("a", F.col("file_id").alias("b"))
    return reps, copy_edges.unionByName(to_stored)


def _probe_rows(bk_new: DataFrame, store: DedupStore) -> DataFrame:
    """The bucket rows a batch's candidates come from: the stored rows
    of the buckets the new rows ``bk_new`` touch (pruned bucket_pt scan
    + broadcast semi-join on the batch's keys) ∪ the new rows, with
    tombstoned buckets dropped."""
    rows = bk_new
    stored = store.buckets(bk_new.schema)
    if stored is not None:
        rows = _pruned_semi(stored, bk_new, "bucket", "bucket_pt").unionByName(
            bk_new
        )
    dead = store.dead_buckets()
    if dead is not None:
        # tombstoned buckets crossed the cap before their member rows
        # were compacted away; the live count alone could fall back
        # under the cap and wrongly re-admit them
        rows = rows.join(F.broadcast(dead), "bucket", "left_anti")
    return rows.drop("bucket_pt")


def _candidates(
    bk_new: DataFrame, new_ids: DataFrame, store: DedupStore,
    cfg: DedupConfig,
) -> DataFrame:
    """Candidate pairs with ≥ 1 endpoint in ``new_ids(file_id)``, the
    files of the new bucket rows ``bk_new``: the batch pipeline's
    cap_buckets + bucket_pairs over new ⋈ (stored ∪ new) (_probe_rows)."""
    pairs = bucket_pairs(cap_buckets(_probe_rows(bk_new, store), cfg), cfg)

    def is_new(side: str) -> DataFrame:
        return F.broadcast(new_ids.select(
            F.col("file_id").alias(side), F.lit(True).alias(f"new_{side}")
        ))

    return (
        pairs.join(is_new("a"), "a", "left")
        .join(is_new("b"), "b", "left")
        .where(F.col("new_a") | F.col("new_b"))
        .select("a", "b", "src")
    )


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
    """One micro-batch: exact-copy collapse → signatures → candidates →
    verify → cluster fold → commit. Idempotent per batch_id
    (commit-record short-circuit; all writes overwrite their own batch
    dir)."""
    if store.batch_done(batch_id):
        return
    ingested_new = ingest_files(batch_files, cfg).localCheckpoint()
    if ingested_new.isEmpty():
        store.mark_batch(batch_id)
        return
    reps, copy_edges = _collapse_copies(ingested_new, store)
    sigs_new = compute_signatures(reps, cfg).localCheckpoint()
    new_state = (
        sigs_new.select("file_id", "size", "mh16")
        .join(ingested_new.select("file_id", "content_norm"), "file_id")
        .select(*STATE_COLS)
        .localCheckpoint()
    )

    bk_new = (
        packed_bucket_table(sigs_new, cfg)
        .withColumn("bucket_pt", _pt("bucket", BUCKET_PARTS))
        .localCheckpoint()
    )
    cand = _candidates(bk_new, sigs_new.select("file_id"), store, cfg)

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
    cand = estimate_filter_candidates(cand, lookup, cfg)
    pairs = verify_pairs(cand, lookup, cfg)
    edges_new = (
        pairs.where("verified")
        .select("a", "b", "jaccard", "method")
        .localCheckpoint()
    )

    arrivals, composed = _cluster_fold(
        spark, store, edges_new.select("a", "b").unionByName(copy_edges),
        ingested_new.select("file_id"),
    )

    state_rows = new_state.withColumn("id_pt", _pt("file_id"))
    store.write_batch("state", state_rows, batch_id, "id_pt")
    hashes = sigs_new.select("sha256", "file_id")
    store.write_batch(
        "hashes", hashes.withColumn("sha_pt", _pt("sha256")), batch_id, "sha_pt"
    )
    every = store.compact_buckets_every
    if every and batch_id % every == every - 1:
        # periodic LSM fold replaces the plain append: this batch's dir
        # absorbs the whole live store and over-cap member rows become
        # tombstones (probe bytes track live buckets, not history)
        store.compact_buckets(batch_id, bk_new, cfg.max_band_bucket)
    else:
        store.write_batch("buckets", bk_new, batch_id, "bucket_pt")
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
            arrivals.withColumn("id_pt", _pt("file_id")),
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

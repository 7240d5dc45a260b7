"""Bucketed copy-on-write lake table with idempotent MERGE apply.

The sink half the reference delegates to its callback consumers
(`/root/reference/row_streamer.go:33-39` ``SendTransactionFunc``): an
Iceberg-style table of source-code repositories keyed ``(repo, path)``,
maintained by last-writer-wins upsert in GTID order with exactly-once
effect. No Iceberg runtime ships in this sandbox, so the table format is a
minimal parquet + JSON-manifest implementation of the same physical design:

* data is hash-**bucketed by key** (``pmod(xxhash64(keys), n_buckets)``) —
  a merge only shuffles on the key and only **rewrites the buckets that
  contain changed keys** (copy-on-write at bucket granularity, the same
  pruning Iceberg's MERGE INTO gets from partition-level copy-on-write);
  hot repos spread across buckets because the key includes ``path``;
* a tiny ``_meta.json`` manifest maps bucket → data version and records
  schema + applied batch ids + the GTID high-water mark; commits are
  atomic (write new data files, then ``os.replace`` the manifest);
* idempotency is row-level: every stored row carries its applying
  ``(_gtid_seq, _seq_in_txn)``; a change folds in only when strictly newer
  — replaying a batch after a crash is a no-op (exactly-once effect), the
  MERGE guard keyed (gtid, table, row-key) per the north rule; a
  table-level GTID high-water mark additionally drops whole re-delivered
  slices, which also closes the tombstone hole (a physically deleted key
  has no row left to carry its per-row guard);
* schema evolution: ``evolve_add_column`` extends the manifest schema;
  old data files are read through the evolved schema (missing columns
  null), the Iceberg ALTER TABLE ADD COLUMN semantics.

At 100 TB: n_buckets scales to O(10^4); per-batch work is
(decode) + (fold shuffle on key) + (join+rewrite of touched buckets only).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _bucket_expr(key_cols, n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets))


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.meta = self._read_meta()

    # ------------------------------------------------------------------ meta
    @property
    def _meta_path(self):
        return os.path.join(self.path, "_meta.json")

    def _read_meta(self) -> dict:
        with open(self._meta_path) as f:
            return json.load(f)

    def _commit_meta(self, meta: dict):
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path)  # atomic manifest swap
        self.meta = meta

    @classmethod
    def create(cls, spark: SparkSession, path: str, columns: list,
               key_cols: list, n_buckets: int = 16,
               table: tuple | None = None) -> "LakeTable":
        """``table``: optional ``(db, tbl)`` source identity; when set,
        ``pipeline.replay_batch`` filters multi-table streams to it."""
        os.makedirs(path, exist_ok=True)
        meta = {
            "columns": list(columns),
            "key": list(key_cols),
            "table": list(table) if table else None,
            "n_buckets": n_buckets,
            "buckets": {},  # bucket id (str) -> version int
            "version": 0,
            "applied_batches": [],
            "last_gtid": -1,
        }
        tmp = os.path.join(path, "_meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(path, "_meta.json"))
        return cls(spark, path)

    # ------------------------------------------------------------------ read
    def _schema(self) -> T.StructType:
        fields = [T.StructField(c, T.StringType(), True)
                  for c in self.meta["columns"]]
        fields += [T.StructField("_gtid_seq", T.LongType(), True),
                   T.StructField("_seq_in_txn", T.IntegerType(), True)]
        return T.StructType(fields)

    def _bucket_dir(self, bucket: int, version: int) -> str:
        return os.path.join(self.path, "data", f"v{version:06d}",
                            f"_bucket={bucket}")

    def read(self, buckets=None, at_version: int | None = None) -> DataFrame:
        """Current snapshot (with merge metadata columns). Reading a subset
        of buckets = partition pruning: untouched data is never scanned.
        ``at_version``: time-travel to a committed snapshot (requires the
        referenced data versions to not have been vacuumed)."""
        if at_version is not None:
            for h in self.meta.get("history", []):
                if h["version"] == at_version:
                    live = h["buckets"]
                    break
            else:
                raise ValueError(f"no snapshot at version {at_version}")
        else:
            live = self.meta["buckets"]
        want = (
            [str(b) for b in buckets] if buckets is not None else list(live)
        )
        paths = [self._bucket_dir(int(b), live[b]) for b in want if b in live]
        schema = self._schema()
        if not paths:
            return self.spark.createDataFrame([], schema)
        # explicit schema: evolved columns absent from old files read as null
        return self.spark.read.schema(schema).parquet(*paths)

    def to_df(self, at_version: int | None = None) -> DataFrame:
        return self.read(at_version=at_version).select(*self.meta["columns"])

    def snapshots(self) -> list:
        """Committed snapshot log (Iceberg `.snapshots` analogue)."""
        return list(self.meta.get("history", []))

    # ----------------------------------------------------------------- write
    def evolve_add_column(self, name: str):
        """Iceberg-style ALTER TABLE ADD COLUMN (driven by the DDL branch)."""
        if name in self.meta["columns"]:
            return
        meta = dict(self.meta)
        meta["columns"] = meta["columns"] + [name]
        self._commit_meta(meta)

    def bucket_of(self, folded: DataFrame) -> DataFrame:
        """Attach the table's bucket id to a folded delta (`_k_*` keys)."""
        key_cols = self.meta["key"]
        return folded.withColumn(
            "_bucket",
            F.pmod(F.xxhash64(*[F.col(f"_k_{k}") for k in key_cols]),
                   F.lit(self.meta["n_buckets"])),
        )

    def merge_apply(self, folded: DataFrame, batch_id=None,
                    max_gtid: int | None = None,
                    changed_buckets: list | None = None,
                    enforce_gtid_watermark: bool = True) -> dict:
        """Apply a per-key folded delta (from ``lww.fold_changes``).

        Exactly-once: if ``batch_id`` was already applied, no-op; row-level
        (gtid, seq) guards make re-application idempotent regardless.

        ``changed_buckets``: pass the delta's distinct ``_bucket`` values if
        the caller already knows them (e.g. from its stats aggregation) —
        skips one Spark job; ``folded`` must then already carry ``_bucket``
        (see ``bucket_of``) and be persisted by the caller.
        """
        if batch_id is not None and batch_id in self.meta["applied_batches"]:
            return {"skipped": True, "batch_id": batch_id}

        key_cols = self.meta["key"]
        n_buckets = self.meta["n_buckets"]
        cols = self.meta["columns"]

        caller_managed = changed_buckets is not None
        delta = folded if "_bucket" in folded.columns else self.bucket_of(folded)
        # GTID high-water-mark guard: in an ordered CDC stream every new
        # batch's per-key folded gtid exceeds everything already applied,
        # so rows at-or-below the lake's watermark are by construction
        # re-deliveries (crash replay, late slice) — dropping them keeps
        # replays no-ops even for keys whose base row a DELETE physically
        # removed (the tombstone problem: without this, a late older
        # insert would resurrect a deleted key).
        # Contract: batches arrive in gtid order (the CDC stream order) —
        # a backfill that intentionally replays an OLD gtid range must
        # pass enforce_gtid_watermark=False and accepts that deletes below
        # the watermark have no tombstone to guard against resurrection.
        hwm = self.meta.get("last_gtid", -1) if enforce_gtid_watermark else -1
        if hwm is not None and hwm >= 0:
            delta = delta.where(F.col("g") > F.lit(hwm))
        if not caller_managed:
            delta.persist()
        try:
            changed = (list(changed_buckets) if caller_managed else
                       [r["_bucket"] for r in
                        delta.select("_bucket").distinct().collect()])
            if not changed:
                return self._commit_noop(batch_id, max_gtid)

            base = self.read(changed).withColumn(
                "_bucket", _bucket_expr(key_cols, n_buckets))

            join_cond = [base[k] == delta[f"_k_{k}"] for k in key_cols]
            j = base.alias("b").join(delta.alias("d"), join_cond, "full_outer")

            has_delta = F.col("d.g").isNotNull()
            has_base = F.col(f"b.{key_cols[0]}").isNotNull()
            newer = has_delta & (
                ~has_base
                | (F.col("d.g") > F.col("b._gtid_seq"))
                | ((F.col("d.g") == F.col("b._gtid_seq"))
                   & (F.col("d.s") >= F.col("b._seq_in_txn")))
            )
            drop = newer & F.col("d.del")

            out_cols = []
            for c in cols:
                applied = F.when(
                    F.col("d.full"), F.col("d.m")[c]
                ).when(
                    F.map_contains_key(F.col("d.m"), F.lit(c)), F.col("d.m")[c]
                ).otherwise(F.col(f"b.{c}"))
                out_cols.append(
                    F.when(newer, applied).otherwise(F.col(f"b.{c}")).alias(c))
            out_cols.append(
                F.when(newer, F.col("d.g"))
                .otherwise(F.col("b._gtid_seq")).alias("_gtid_seq"))
            out_cols.append(
                F.when(newer, F.col("d.s"))
                .otherwise(F.col("b._seq_in_txn")).alias("_seq_in_txn"))
            out_cols.append(
                F.coalesce(F.col("b._bucket"), F.col("d._bucket")).alias("_bucket"))

            result = j.where(~drop).select(*out_cols)
            # a pure PATCH onto a non-existent base row cannot produce a
            # complete row; surface it rather than inventing nulls for keys
            result = result.where(F.col(key_cols[0]).isNotNull())

            new_version = self.meta["version"] + 1
            out_dir = os.path.join(self.path, "data", f"v{new_version:06d}")
            (result.repartition(max(len(changed), 1), F.col("_bucket"))
             .write.mode("overwrite").partitionBy("_bucket").parquet(out_dir))

            # a changed bucket can produce ZERO output rows (e.g. its only
            # key was inserted and deleted within the batch, or every base
            # row was dropped): partitionBy writes no directory for it, so
            # commit only directories that exist and remove emptied buckets
            # from the manifest — pointing at a never-written path would
            # make every later read crash
            written = {d.split("=", 1)[1] for d in os.listdir(out_dir)
                       if d.startswith("_bucket=")} if os.path.isdir(out_dir) else set()
            meta = dict(self.meta)
            meta["buckets"] = dict(meta["buckets"])
            for b in changed:
                if str(b) in written:
                    meta["buckets"][str(b)] = new_version
                else:
                    meta["buckets"].pop(str(b), None)
            meta["version"] = new_version
            if batch_id is not None:
                meta["applied_batches"] = meta["applied_batches"] + [batch_id]
            if max_gtid is not None:
                meta["last_gtid"] = max(meta["last_gtid"], int(max_gtid))
            # snapshot log: full bucket map per committed version (tiny —
            # n_buckets entries), enabling time-travel reads and making
            # vacuum() deletions auditable. Iceberg snapshot analogue.
            meta["history"] = list(meta.get("history", [])) + [{
                "version": new_version, "batch_id": batch_id,
                "buckets": dict(meta["buckets"]),
                "last_gtid": meta["last_gtid"],
            }]
            self._commit_meta(meta)
            return {"skipped": False, "batch_id": batch_id,
                    "buckets_rewritten": len(changed),
                    "version": new_version}
        finally:
            if not caller_managed:
                delta.unpersist()

    def _commit_noop(self, batch_id, max_gtid):
        meta = dict(self.meta)
        if batch_id is not None:
            meta["applied_batches"] = meta["applied_batches"] + [batch_id]
        if max_gtid is not None:
            meta["last_gtid"] = max(meta["last_gtid"], int(max_gtid))
        self._commit_meta(meta)
        return {"skipped": False, "batch_id": batch_id, "buckets_rewritten": 0}

    # ------------------------------------------------------------- maintenance
    def vacuum(self) -> dict:
        """Drop data versions no live bucket references (old copy-on-write
        generations — the Iceberg `expire_snapshots` analogue), and expire
        the snapshot-log entries that referenced them so ``snapshots()``
        never advertises a time-travel point whose data is gone. The pruned
        manifest commits atomically BEFORE any file is deleted, so a crash
        mid-vacuum leaves at worst unreferenced garbage, never a snapshot
        pointing at a missing directory."""
        import shutil

        data_dir = os.path.join(self.path, "data")
        if not os.path.isdir(data_dir):
            return {"removed_versions": 0, "expired_snapshots": 0}
        live = {int(v) for v in self.meta["buckets"].values()}
        # `live` is exactly the set of versions the current manifest points
        # at, so every other on-disk version is superseded in full
        removable = sorted(
            int(name[1:]) for name in os.listdir(data_dir)
            if name.startswith("v") and int(name[1:]) not in live)
        expired = 0
        if removable:
            gone = set(removable)
            meta = dict(self.meta)
            history = meta.get("history", [])
            kept = [h for h in history
                    if not any(int(v) in gone for v in h["buckets"].values())]
            expired = len(history) - len(kept)
            meta["history"] = kept
            self._commit_meta(meta)
            for version in removable:
                shutil.rmtree(os.path.join(data_dir, f"v{version:06d}"))
        return {"removed_versions": len(removable),
                "expired_snapshots": expired}

    def rebucket(self, new_n_buckets: int) -> dict:
        """Partition-spec rewrite (Iceberg ``REPLACE PARTITION FIELD`` +
        ``rewrite_data_files`` analogue): rewrite the table under a new
        bucket count — the maintenance job when the original sizing no
        longer matches the data volume (too few buckets ⇒ giant COW
        rewrites per merge batch; too many ⇒ a small file per commit).

        One full-table job: read every live bucket, recompute the key
        hash modulo the new count, write ONE new data version, commit
        atomically. Exactly-once bookkeeping (applied batch ids, GTID
        high-water mark) is untouched, so the CDC stream continues
        against the new spec seamlessly; earlier snapshots keep
        time-travelling until ``vacuum()`` expires their data versions.
        At 100 TB this is shuffle-optimal: exactly one exchange on the
        new bucket id, no driver-side data movement.
        """
        key_cols = self.meta["key"]
        base = self.read()
        new_version = self.meta["version"] + 1
        out_dir = os.path.join(self.path, "data", f"v{new_version:06d}")
        df = base.withColumn("_bucket",
                             _bucket_expr(key_cols, new_n_buckets))
        (df.repartition(max(new_n_buckets, 1), F.col("_bucket"))
         .write.mode("overwrite").partitionBy("_bucket").parquet(out_dir))
        written = {d.split("=", 1)[1] for d in os.listdir(out_dir)
                   if d.startswith("_bucket=")} if os.path.isdir(out_dir) \
            else set()
        meta = dict(self.meta)
        meta["n_buckets"] = int(new_n_buckets)
        meta["buckets"] = {b: new_version for b in sorted(written, key=int)}
        meta["version"] = new_version
        meta["history"] = list(meta.get("history", [])) + [{
            "version": new_version,
            "batch_id": f"rebucket:{new_n_buckets}",
            "buckets": dict(meta["buckets"]),
            "last_gtid": meta["last_gtid"],
        }]
        self._commit_meta(meta)
        return {"n_buckets": int(new_n_buckets),
                "buckets_live": len(written), "version": new_version}

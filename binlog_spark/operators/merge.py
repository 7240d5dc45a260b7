"""Bucketed copy-on-write lake table with idempotent MERGE apply.

The sink half the reference delegates to its callback consumers
(`/root/reference/row_streamer.go:33-39` ``SendTransactionFunc``): an
Iceberg-style table of source-code repositories keyed ``(repo, path)``,
maintained by last-writer-wins upsert in GTID order with exactly-once
effect. No Iceberg runtime ships in this sandbox, so the table format is a
minimal parquet + JSON-manifest implementation of the same physical design:

* data is hash-**bucketed by key** (``pmod(xxhash64(keys), n_buckets)``) —
  a merge **rewrites only the buckets that contain changed keys**
  (copy-on-write at bucket granularity, the same pruning Iceberg's MERGE
  INTO gets from partition-level copy-on-write); hot repos spread across
  buckets because the key includes ``path``;
* an apply is ONE Spark job with ONE shuffle: change rows
  (``apply_changes``) are hash-partitioned on ``_bucket``, computed from
  the key, and sorted by ``(_bucket, key, gtid, seq)``; one Arrow task per
  partition folds each key run (``lww.fold_batches``, capped at
  ``n_buckets`` tasks) and handles each of its buckets in turn — read
  that bucket's live files, hash-join base and folded delta on the key in
  Arrow, apply the LWW rule column by column, and write the bucket's
  single ``part-00000.parquet`` (temp file + ``os.replace``, so a retried
  task replaces its file). Every write takes this job: the replay's
  change rows, the bootstrap snapshot as insert rows, and an already
  folded delta (``merge_apply``) as the one change row per key that
  folds back to it. The base is never shuffled, and there is no Spark
  join and no Spark file commit. The job's ``(bucket, rows, keys)``
  output is the list of changed buckets, so no other job looks for them;
  ``rebucket`` writes through the same bucket writer;
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

The lake path must be a POSIX path that the driver and every executor
see (local disk, or a shared mount such as NFS): the manifest commit uses
``os.replace`` and ``os.listdir``, and the merge tasks read and write the
bucket files directly.

At 100 TB: n_buckets scales to O(10^4); per-batch work is
(decode) + (change shuffle on bucket + per-bucket fold and
read/merge/write of touched buckets only).
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lww import fold_batches, key_columns


def _bucket_expr(key_cols, n_buckets: int):
    """Bucket id of the key columns (names or Columns)."""
    return F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))


def write_json_atomic(path: str, obj, **dump_kw):
    """Write ``obj`` as JSON to ``path`` through a ``.tmp`` sibling and
    ``os.replace``: a reader sees the old file or the whole new one, and
    a dump that raises leaves ``path`` as it was."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, **dump_kw)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def _arrow_schema(cols) -> pa.Schema:
    """The stored row layout (``LakeTable._schema`` in Arrow types)."""
    return pa.schema([pa.field(c, pa.string()) for c in cols]
                     + [pa.field("_gtid_seq", pa.int64()),
                        pa.field("_seq_in_txn", pa.int32())])


def _ints(values, idx: np.ndarray) -> np.ndarray:
    """``values[idx]`` as int64 numpy, 0 wherever ``idx < 0`` (or null)."""
    if len(values) == 0:
        return np.zeros(idx.size, np.int64)
    arr = pc.fill_null(values, 0).to_numpy(zero_copy_only=False)
    return np.where(idx >= 0, arr[np.maximum(idx, 0)], 0).astype(np.int64)


def merge_bucket(base: pa.Table, delta: pa.Table, cols, key_cols) -> pa.Table:
    """One bucket's MERGE in Arrow: ``base`` (stored rows, ``_arrow_schema``)
    ⊕ ``delta`` (folded rows ``_k_*, del, full, mk, mv, g, s``, as
    ``lww.fold_batches`` yields them) → the bucket's new rows.

    The hash join carries only row indices; every output column is one
    ``take``. A delta row applies when it is newer than the base row's
    ``(_gtid_seq, _seq_in_txn)`` (same gtid: equal-or-later seq), or when
    there is no base row. An applied ``del`` drops the row; an applied
    ``full`` replaces every column from ``m`` (absent → NULL); otherwise a
    key present in ``m`` patches its column (a NULL value sets NULL) and
    an absent key keeps the base value. A row left with a NULL key column
    (a patch onto a missing base row) is dropped."""
    nb, nd = base.num_rows, delta.num_rows
    kd = [f"_k_{k}" for k in key_cols]
    if nb == 0:
        bi = np.full(nd, -1, np.int64)
        di = np.arange(nd, dtype=np.int64)
    else:
        left = pa.table({**{n: pc.cast(base[k], pa.string())
                            for n, k in zip(kd, key_cols)},
                         "_bi": pa.array(np.arange(nb, dtype=np.int64))})
        right = pa.table({**{n: pc.cast(delta[n], pa.string()) for n in kd},
                          "_di": pa.array(np.arange(nd, dtype=np.int64))})
        j = left.join(right, keys=kd, join_type="full outer",
                      use_threads=False)
        bi = pc.fill_null(j["_bi"], -1).to_numpy().astype(np.int64)
        di = pc.fill_null(j["_di"], -1).to_numpy().astype(np.int64)
    has_b, has_d = bi >= 0, di >= 0

    dg, ds = _ints(delta["g"], di), _ints(delta["s"], di)
    bg, bs = _ints(base["_gtid_seq"], bi), _ints(base["_seq_in_txn"], bi)
    newer = has_d & (~has_b | (dg > bg) | ((dg == bg) & (ds >= bs)))
    flags = {c: pc.fill_null(delta[c], False).to_numpy(zero_copy_only=False)
             for c in ("del", "full")}
    dc = np.maximum(di, 0)
    keep = ~(newer & flags["del"][dc])
    bi, di, dc, newer = bi[keep], di[keep], dc[keep], newer[keep]
    full = newer & flags["full"][dc]

    # the map's flattened entries: ``pos[j, r]`` is the entry index of
    # column ``cols[j]`` in delta row ``r`` (-1 when the key is absent).
    # ``mk`` and ``mv`` hold one entry per map entry, so they share their
    # offsets, which index the unsliced ``values``
    mk, mv = delta["mk"].combine_chunks(), delta["mv"].combine_chunks()
    keys, items = mk.values, mv.values
    offs = np.asarray(mk.offsets, dtype=np.int64)
    lens = np.diff(offs)
    lens[~mk.is_valid().to_numpy(zero_copy_only=False)] = 0
    rows = np.repeat(np.arange(nd, dtype=np.int64), lens)
    ent = (np.arange(rows.size, dtype=np.int64)
           - np.repeat(np.cumsum(lens) - lens, lens)
           + np.repeat(offs[:-1], lens))
    code = pc.fill_null(pc.index_in(keys, value_set=pa.array(
        list(cols), pa.string())), -1).to_numpy(zero_copy_only=False)[ent]
    pos = np.full((len(cols), nd), -1, np.int64)
    hit = code >= 0
    pos[code[hit], rows[hit]] = ent[hit]
    items = pc.cast(items, pa.string())

    out = {}
    for jc, c in enumerate(cols):
        e = np.where(di >= 0, pos[jc][dc], -1)
        take_d = newer & (full | (e >= 0))
        # one gather over [base column ++ map items]; index -1 → NULL
        idx = np.where(take_d, np.where(e >= 0, nb + e, -1), bi)
        src = pa.concat_arrays([
            pc.cast(base[c], pa.string()).combine_chunks(), items])
        out[c] = src.take(pa.array(idx, mask=idx < 0))
    out["_gtid_seq"] = pa.array(
        np.where(newer, dg[keep], bg[keep]), pa.int64())
    out["_seq_in_txn"] = pa.array(
        np.where(newer, ds[keep], bs[keep]).astype(np.int32), pa.int32())
    merged = pa.table(out, schema=_arrow_schema(cols))
    valid = None
    for k in key_cols:
        v = pc.is_valid(merged[k])
        valid = v if valid is None else pc.and_(valid, v)
    return merged.filter(valid)


def _read_bucket(bucket_dir: str | None, schema: pa.Schema) -> pa.Table:
    """A bucket's stored rows under the manifest schema: columns an older
    file lacks read as null; ``.``/``_``-prefixed files (temp files,
    ``.crc``, ``_SUCCESS``) are skipped."""
    if bucket_dir is None:
        return schema.empty_table()
    import pyarrow.dataset as ds

    return ds.dataset(bucket_dir, schema=schema,
                      format="parquet").to_table(use_threads=False)


def _write_bucket(table: pa.Table, bucket_dir: str):
    """Write the bucket's one data file. The temp name is unique per
    attempt and ``.``-prefixed (readers skip it); ``os.replace`` makes a
    retried task replace the file rather than add a second one."""
    import pyarrow.parquet as pq

    os.makedirs(bucket_dir, exist_ok=True)
    tmp = os.path.join(bucket_dir, f".part-00000.{uuid.uuid4().hex}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(bucket_dir, "part-00000.parquet"))


def _bucket_dir(path: str, bucket: int, version: int) -> str:
    return os.path.join(path, "data", f"v{version:06d}", f"_bucket={bucket}")


def _bucket_runs(batches):
    """Batches clustered by ``_bucket`` → one ``(bucket, slices)`` per
    bucket, in input order; a bucket may span batches. A bucket that
    comes back after its run ended raises: writing it again would
    replace the file of its first run."""
    cur, pending, done = None, [], set()
    for rb in batches:
        if rb.num_rows == 0:
            continue
        b = rb.column("_bucket").to_numpy(zero_copy_only=False)
        cuts = np.flatnonzero(b[1:] != b[:-1]) + 1
        for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, b.size]):
            if b[lo] != cur:
                if cur is not None:
                    yield cur, pending
                    done.add(cur)
                cur, pending = int(b[lo]), []
                if cur in done:
                    raise RuntimeError(
                        f"bucket {cur} is not contiguous in its partition")
            pending.append(rb.slice(int(lo), int(hi - lo)))
    if cur is not None:
        yield cur, pending


_KERNEL_OUT = "bucket long, rows long, keys long"


def _merge_kernel(path: str, version: int, live: dict, cols, key_cols,
                  hwm: int):
    """The ``mapInArrow`` body. Input batches arrive clustered by
    ``_bucket``: change rows ``(_bucket, _k_*, gtid_seq, seq_in_txn, op,
    after)`` sorted by ``(_bucket, _k_*, gtid_seq, seq_in_txn)``, which
    ``lww.fold_batches`` folds first (``_bucket`` is a function of the
    key, so it leads the key without changing the key runs). Folded rows
    at or below ``hwm`` are dropped. Each bucket's rows are gathered (a
    bucket may span batches), merged with its base and written to data
    version ``version``. Yields one ``(bucket, rows, keys)`` row per
    bucket: ``rows`` written, ``keys`` the folded delta rows merged."""
    schema = _arrow_schema(cols)
    out_schema = pa.schema([("bucket", pa.int64()), ("rows", pa.int64()),
                            ("keys", pa.int64())])

    def flush(bucket, pending):
        delta = pa.Table.from_batches(pending)
        base_v = live.get(str(bucket))
        base = _read_bucket(None if base_v is None else
                            _bucket_dir(path, bucket, base_v), schema)
        merged = merge_bucket(base, delta, cols, key_cols)
        if merged.num_rows:
            _write_bucket(merged, _bucket_dir(path, bucket, version))
        return pa.RecordBatch.from_arrays(
            [pa.array([v], pa.int64())
             for v in (bucket, merged.num_rows, delta.num_rows)],
            schema=out_schema)

    def run(batches):
        batches = fold_batches(batches, len(key_cols) + 1)
        if hwm >= 0:
            batches = (rb.filter(pc.greater(rb.column("g"), hwm))
                       for rb in batches)
        for bucket, pending in _bucket_runs(batches):
            yield flush(bucket, pending)

    return run


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
        write_json_atomic(self._meta_path, meta)  # atomic manifest swap
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
        write_json_atomic(os.path.join(path, "_meta.json"), meta)
        return cls(spark, path)

    # ------------------------------------------------------------------ read
    def _schema(self) -> T.StructType:
        fields = [T.StructField(c, T.StringType(), True)
                  for c in self.meta["columns"]]
        fields += [T.StructField("_gtid_seq", T.LongType(), True),
                   T.StructField("_seq_in_txn", T.IntegerType(), True)]
        return T.StructType(fields)

    def _bucket_dir(self, bucket: int, version: int) -> str:
        return _bucket_dir(self.path, bucket, version)

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
        """Attach the table's bucket id to a folded delta (`_k_*` keys),
        for a caller that groups it by bucket; the apply computes its
        own."""
        return folded.withColumn("_bucket", _bucket_expr(
            [f"_k_{k}" for k in self.meta["key"]], self.meta["n_buckets"]))

    def apply_job(self, changes: DataFrame, version: int) -> DataFrame:
        """Fold and MERGE of change rows (CHANGE_SCHEMA) as one Spark job:
        ``_bucket`` is computed from the key before the job's one shuffle,
        on ``_bucket``; each partition is sorted by
        ``(_bucket, _k_*, gtid_seq, seq_in_txn)``, and one Arrow task folds
        each key run (``lww.fold_batches``) and merges and writes each of
        its buckets. The fold's parallelism is capped at ``n_buckets``
        tasks (32 in the test and benchmark lakes, so the cap does not
        bind at 4 cores); AQE coalesces whole partitions, so a bucket
        never splits. Collecting it returns one ``(bucket, rows, keys)``
        row per bucket written. The input is one ``select``: each
        DataFrame step is one analysis round trip through Py4J."""
        kcols = key_columns(self.meta["key"])
        bucket = _bucket_expr(list(kcols.values()), self.meta["n_buckets"])
        # GTID high-water-mark guard: in an ordered CDC stream every new
        # batch's per-key folded gtid exceeds everything already applied,
        # so rows at-or-below the lake's watermark are by construction
        # re-deliveries (crash replay, late slice) — dropping them keeps
        # replays no-ops even for keys whose base row a DELETE physically
        # removed (the tombstone problem: without this, a late older
        # insert would resurrect a deleted key).
        kernel = _merge_kernel(self.path, version, dict(self.meta["buckets"]),
                               list(self.meta["columns"]),
                               list(self.meta["key"]),
                               self.meta.get("last_gtid", -1))
        return (changes.select(bucket.alias("_bucket"),
                               *[c.alias(k) for k, c in kcols.items()],
                               "gtid_seq", "seq_in_txn", "op", "after")
                .repartition(F.col("_bucket"))
                .sortWithinPartitions("_bucket", *kcols, "gtid_seq",
                                      "seq_in_txn")
                .mapInArrow(kernel, _KERNEL_OUT))

    def merge_apply(self, folded: DataFrame, batch_id=None,
                    max_gtid: int | None = None,
                    changed_buckets: list | None = None) -> dict:
        """Apply a per-key folded delta (``lww.fold_changes``' rows:
        ``_k_*, del, full, m, g, s``) through ``apply_changes``. Each
        folded row becomes the one change row that folds back to it: op
        ``D`` if ``del``, ``I`` if ``full``, else ``U``; ``after = m``;
        ``before`` the map of the ``_k_*`` keys; ``(gtid_seq, seq_in_txn)
        = (g, s)``. A fold's ``m`` holds a key column only with the key's
        own value, so the change row keys to the same ``_k_*``.
        ``_bucket`` and ``n_events``, if present, are ignored."""
        keys = self.meta["key"]
        changes = folded.select(
            F.when(F.col("del"), "D").when(F.col("full"), "I")
            .otherwise("U").alias("op"),
            F.create_map(*[x for k in keys
                           for x in (F.lit(k), F.col(f"_k_{k}"))])
            .alias("before"),
            F.col("m").alias("after"),
            F.col("g").alias("gtid_seq"), F.col("s").alias("seq_in_txn"))
        return self.apply_changes(changes, batch_id, max_gtid,
                                  changed_buckets)

    def apply_changes(self, changes: DataFrame, batch_id=None,
                      max_gtid: int | None = None,
                      changed_buckets: list | None = None) -> dict:
        """Fold and apply change rows (CHANGE_SCHEMA; ``apply_job`` reads
        ``op``, ``before``, ``after``, ``gtid_seq``, ``seq_in_txn``) in one
        job, then commit the manifest: the one way rows reach the lake
        (``rebucket`` aside), taken by the replay, the bootstrap snapshot
        and ``merge_apply``.

        Exactly-once: if ``batch_id`` was already applied, no-op; row-level
        (gtid, seq) guards make re-application idempotent regardless.
        Folded rows at or below the lake's GTID watermark are dropped.

        The job's ``(bucket, rows, keys)`` output is the list of changed
        buckets; when it is empty, the batch commits as a no-op.
        ``changed_buckets=[]`` says the caller knows the input is empty:
        the no-op commits without running a job. Any other value is
        ignored. The stats count ``delta_keys``, the folded rows merged,
        next to ``rows_written``."""
        if batch_id is not None and batch_id in self.meta["applied_batches"]:
            return {"skipped": True, "batch_id": batch_id}
        written = {}
        if changed_buckets != []:
            written = {r["bucket"]: (r["rows"], r["keys"]) for r in
                       self.apply_job(changes, self.meta["version"] + 1)
                       .collect()}
        meta = dict(self.meta)
        if batch_id is not None:
            meta["applied_batches"] = meta["applied_batches"] + [batch_id]
        if max_gtid is not None:
            meta["last_gtid"] = max(meta["last_gtid"], int(max_gtid))
        stats = {"skipped": False, "batch_id": batch_id,
                 "buckets_rewritten": len(written),
                 "rows_written": sum(r for r, _ in written.values()),
                 "delta_keys": sum(k for _, k in written.values())}
        if written:
            # a merged bucket can hold ZERO rows (e.g. its only key was
            # inserted and deleted within the batch, or every base row
            # was dropped): the kernel writes no file for it, so it
            # leaves the manifest — pointing at a never-written path
            # would make every later read crash
            new_version = meta["version"] + 1
            meta["buckets"] = dict(meta["buckets"])
            for b, (rows, _) in written.items():
                if rows:
                    meta["buckets"][str(b)] = new_version
                else:
                    meta["buckets"].pop(str(b), None)
            meta["version"] = stats["version"] = new_version
            # snapshot log: full bucket map per committed version (tiny —
            # n_buckets entries), enabling time-travel reads and making
            # vacuum() deletions auditable. Iceberg snapshot analogue.
            meta["history"] = list(meta.get("history", [])) + [{
                "version": new_version, "batch_id": batch_id,
                "buckets": dict(meta["buckets"]),
                "last_gtid": meta["last_gtid"],
            }]
        self._commit_meta(meta)
        return stats

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
        schema = _arrow_schema(self.meta["columns"])
        path, new_version = self.path, self.meta["version"] + 1

        def write(batches):
            for bucket, parts in _bucket_runs(batches):
                table = (pa.Table.from_batches(parts).select(schema.names)
                         .cast(schema))
                _write_bucket(table, _bucket_dir(path, bucket, new_version))
                yield pa.RecordBatch.from_arrays(
                    [pa.array([bucket], pa.int64()),
                     pa.array([table.num_rows], pa.int64())],
                    names=["bucket", "rows"])

        bucket = _bucket_expr(key_cols, new_n_buckets)
        written = {r["bucket"]: r["rows"] for r in self.read()
                   .withColumn("_bucket", bucket)
                   .repartition(F.col("_bucket"))
                   .sortWithinPartitions("_bucket")
                   .mapInArrow(write, "bucket long, rows long").collect()}
        meta = dict(self.meta)
        meta["n_buckets"] = int(new_n_buckets)
        meta["buckets"] = {str(b): new_version for b in sorted(written)}
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

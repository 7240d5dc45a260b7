"""Per-key change folding and last-writer-wins reduction.

The north rule's LWW apply: changes are reduced per key in
``(gtid_seq, seq_in_txn)`` order before hitting the lake table. Because
updates may carry a *minimal row image* (only changed columns present —
reference ``IsEmpty``, transaction.go:114-119), a plain "latest row wins"
is insufficient: partial updates must FOLD over earlier images.

Fold state per key: ``(del, full, m)`` —
* ``del``:  last effective op is a delete (tombstone),
* ``full``: the map ``m`` is a complete row (an insert occurred after the
  last delete), i.e. apply as REPLACE; otherwise ``m`` is a PATCH over the
  pre-existing base row,
* ``m``:    folded column→canonical-string image (SQL NULLs included).

The fold kernel, ``fold_batches``, runs directly on the Arrow buffers —
no per-row map materialization:

* rows arrive key-contiguous and (gtid, seq)-sorted (one shuffle +
  in-partition sort);
* key-run boundaries, the last INSERT/DELETE index per run, and the
  surviving entry ranges are computed with vectorized numpy/pyarrow ops
  (``np.maximum.reduceat`` over the op mask — the fold's "reset" events);
* the surviving map entries are ONE contiguous range per key inside the
  batch's MapArray children (rows of a run are adjacent, so their entry
  slices concatenate), gathered with a single ``take`` per batch;
* duplicate column keys inside a surviving range (two updates patching
  the same column) are deduplicated IN the kernel — key keeps its first
  position, value comes from its last occurrence, exactly ``dict.update``
  order — so a consumer of the ``mk``/``mv`` lists sees unique keys, and
  ``fold_changes``' JVM-side ``map_from_arrays`` does NOT depend on the
  session's ``spark.sql.mapKeyDedupPolicy`` (relying on LAST_WIN crashes
  under default-config sessions, where the policy is EXCEPTION).

Key runs spanning Arrow batches are carried as a single pending state and
merged with the ordered-chunk combine algebra (a later chunk with
del/full resets the earlier one), so state per task is O(1) and one hot
key costs no more than its run length. The carried run is emitted before
the next batch's runs, so output stays in input key order.

``fold_changes`` is the standalone fold: one key shuffle, then the kernel
in one ``mapInArrow``. The replay does not use it: ``LakeTable.
apply_changes`` shuffles the change rows once by bucket and runs
``fold_batches`` inside the MERGE kernel, so the fold's parallelism there
is capped at the lake's ``n_buckets`` tasks.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def key_columns(key_cols) -> dict:
    """``{"_k_<k>": expression}`` for each key column, read from the row
    images (after first — inserts and updates carry the key there;
    deletes only in the identify image)."""
    return {f"_k_{k}": F.coalesce(F.col("after")[k], F.col("before")[k])
            for k in key_cols}


def with_key(changes: DataFrame, key_cols=("repo", "path")) -> DataFrame:
    """Materialize the key columns of ``key_columns``."""
    return changes.withColumns(key_columns(key_cols))


def _partial_schema(keys):
    fields = [T.StructField(k, T.StringType(), True) for k in keys]
    fields += [
        T.StructField("del", T.BooleanType(), False),
        T.StructField("full", T.BooleanType(), False),
        T.StructField("mk", T.ArrayType(T.StringType(), True), True),
        T.StructField("mv", T.ArrayType(T.StringType(), True), True),
        T.StructField("g", T.LongType(), True),
        T.StructField("s", T.IntegerType(), True),
        T.StructField("n_events", T.LongType(), False),
    ]
    return T.StructType(fields)


class _Carry:
    """Pending fold state for the key run at the tail of a batch."""

    __slots__ = ("key", "del_", "full", "kchunks", "vchunks", "g", "s", "n")

    def __init__(self, key, del_, full, kchunks, vchunks, g, s, n):
        self.key = key
        self.del_ = del_
        self.full = full
        self.kchunks = kchunks
        self.vchunks = vchunks
        self.g = g
        self.s = s
        self.n = n

    def batch(self, schema: pa.Schema) -> pa.RecordBatch:
        """The folded run as a one-row batch under ``schema``."""
        empty = pa.array([], type=pa.string())
        mk = pa.concat_arrays(self.kchunks) if self.kchunks else empty
        mv = pa.concat_arrays(self.vchunks) if self.vchunks else empty
        # dict preserves first-insertion key order with last value — the
        # scalar fold's update order; emitting unique keys keeps the map
        # assembly independent of spark.sql.mapKeyDedupPolicy
        folded = {}
        for k, v in zip(mk.to_pylist(), mv.to_pylist()):
            folded[k] = v
        row = (*self.key, self.del_, self.full, list(folded.keys()),
               list(folded.values()), self.g, self.s, self.n)
        return pa.RecordBatch.from_arrays(
            [pa.array([v], type=f.type) for v, f in zip(row, schema)],
            schema=schema)


def _dedup_keep_last(ent_k, ent_v, lens):
    """Vectorized per-row map-key dedup over the gathered entry ranges.

    ``ent_k``/``ent_v`` are the concatenated entries of ``lens.size``
    output rows (row ``i`` owns ``lens[i]`` consecutive entries). For
    each (row, key): the key keeps its FIRST position, the value comes
    from its LAST occurrence — ``dict.update`` / LAST_WIN semantics —
    so downstream ``map_from_arrays`` never sees a duplicate key under
    any ``spark.sql.mapKeyDedupPolicy``.

    Returns ``(ent_k, ent_v, lens)``; the no-duplicate case is a single
    ``np.unique`` check and returns the inputs untouched.
    """
    total = len(ent_k)
    if total == 0:
        return ent_k, ent_v, lens
    row_ids = np.repeat(np.arange(lens.size, dtype=np.int64),
                        lens.astype(np.int64))
    codes = pc.dictionary_encode(ent_k).indices
    codes_np = codes.to_numpy(zero_copy_only=False).astype(np.int64)
    combo = row_ids * (codes_np.max() + 1) + codes_np
    uniq_first = np.unique(combo, return_index=True)[1]
    if uniq_first.size == total:  # no duplicate (row, key) pairs
        return ent_k, ent_v, lens
    # last occurrence per combo, aligned with the same sorted-unique order
    rev_first = np.unique(combo[::-1], return_index=True)[1]
    uniq_last = total - 1 - rev_first
    order = np.argsort(uniq_first, kind="stable")
    key_pos = uniq_first[order]   # ascending → rows stay contiguous,
    val_pos = uniq_last[order]    # first-insertion order within a row
    new_k = ent_k.take(pa.array(key_pos))
    new_v = ent_v.take(pa.array(val_pos))
    new_lens = np.bincount(row_ids[key_pos], minlength=lens.size)
    return new_k, new_v, new_lens


def _range_gather_idx(starts, lens):
    """Concatenated [start, start+len) ranges as one int64 index vector
    (cumsum-scatter, the colsplit pattern)."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, np.int64)
    nz = lens > 0
    s64 = starts[nz].astype(np.int64)
    l64 = lens[nz].astype(np.int64)
    step = np.ones(total, np.int64)
    step[0] = s64[0]
    bnd = np.cumsum(l64[:-1])
    step[bnd] = s64[1:] - (s64[:-1] + l64[:-1]) + 1
    return np.cumsum(step)


def fold_batches(batches, nkeys: int):
    """The fold kernel: Arrow batches of ``(keys..., gtid_seq, seq_in_txn,
    op, after)``, key-contiguous and (gtid, seq)-sorted, → folded rows
    ``(keys..., del, full, mk, mv, g, s, n_events)``, the ``nkeys`` key
    columns typed as in the input.

    Output rows come in input key order: the run carried over from the
    previous batch is yielded before the batch's own runs. A consumer
    clustered on a leading key column (the MERGE kernel's ``_bucket``)
    relies on that."""
    from pyspark.sql.pandas.types import to_arrow_schema

    state = list(to_arrow_schema(_partial_schema([])))
    carry = out_schema = None
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        out_schema = out_schema or pa.schema(list(batch.schema)[:nkeys]
                                             + state)
        karrs = [batch.column(j) for j in range(nkeys)]
        g_np = batch.column(nkeys).to_numpy(zero_copy_only=False)
        s_np = batch.column(nkeys + 1).to_numpy(zero_copy_only=False)
        op = batch.column(nkeys + 2)
        i_mask = pc.equal(op, "I").to_numpy(zero_copy_only=False)
        d_mask = pc.equal(op, "D").to_numpy(zero_copy_only=False)
        ma = batch.column(nkeys + 3)
        moff = np.asarray(ma.offsets, dtype=np.int64)
        mk_child, mv_child = ma.keys, ma.items

        if n > 1:
            change = np.zeros(n - 1, bool)
            for ka in karrs:
                neq = pc.fill_null(pc.not_equal(
                    ka.slice(1, n - 1), ka.slice(0, n - 1)), True)
                change |= neq.to_numpy(zero_copy_only=False)
            starts = np.flatnonzero(np.r_[True, change])
        else:
            starts = np.zeros(1, np.int64)
        ends = np.r_[starts[1:], n]
        nseg = starts.size

        vid = np.where(i_mask | d_mask, np.arange(n), -1)
        b = np.maximum.reduceat(vid, starts)
        bc = np.maximum(b, 0)
        e_start = np.where(
            b < 0, moff[starts],
            np.where(i_mask[bc], moff[bc], moff[bc + 1]))
        e_end = moff[ends]
        seg_del = (b >= 0) & d_mask[bc]
        seg_full = (b >= 0) & i_mask[bc]
        seg_g = g_np[ends - 1]
        seg_s = s_np[ends - 1]
        seg_n = (ends - starts).astype(np.int64)

        done = None  # the carried run, once it ends in this batch
        first_key = tuple(ka[0].as_py() for ka in karrs)
        emit_from = 0
        if carry is not None:
            if carry.key == first_key:
                # ordered-chunk combine: a later chunk with del/full
                # resets the earlier partial, else entries append
                if seg_del[0] or seg_full[0]:
                    carry.del_ = bool(seg_del[0])
                    carry.full = bool(seg_full[0])
                    carry.kchunks = []
                    carry.vchunks = []
                ln = int(e_end[0] - e_start[0])
                if ln:
                    carry.kchunks.append(
                        mk_child.slice(int(e_start[0]), ln))
                    carry.vchunks.append(
                        mv_child.slice(int(e_start[0]), ln))
                carry.g = int(seg_g[0])
                carry.s = int(seg_s[0])
                carry.n += int(seg_n[0])
                emit_from = 1
                if nseg > 1:
                    done, carry = carry, None
            else:
                done, carry = carry, None
        if done is not None:
            yield done.batch(out_schema)

        # hold back the batch's last run (may continue next batch)
        last = nseg - 1
        if carry is None and last >= emit_from:
            ln = int(e_end[last] - e_start[last])
            carry = _Carry(
                tuple(ka[int(starts[last])].as_py() for ka in karrs),
                bool(seg_del[last]), bool(seg_full[last]),
                [mk_child.slice(int(e_start[last]), ln)] if ln else [],
                [mv_child.slice(int(e_start[last]), ln)] if ln else [],
                int(seg_g[last]), int(seg_s[last]), int(seg_n[last]))
            emit_to = last
        else:
            emit_to = last + 1  # carry-merged single-run batch

        sel = np.arange(emit_from, emit_to)
        if sel.size:
            sstart = starts[sel]
            lens = (e_end[sel] - e_start[sel])
            idx = _range_gather_idx(e_start[sel], lens)
            ent_k = mk_child.take(pa.array(idx))
            ent_v = mv_child.take(pa.array(idx))
            ent_k, ent_v, lens = _dedup_keep_last(ent_k, ent_v, lens)
            offs = np.zeros(sel.size + 1, np.int32)
            np.cumsum(lens, out=offs[1:], dtype=np.int32)
            arrays = [ka.take(pa.array(sstart)) for ka in karrs]
            arrays += [
                pa.array(seg_del[sel]),
                pa.array(seg_full[sel]),
                pa.ListArray.from_arrays(pa.array(offs), ent_k),
                pa.ListArray.from_arrays(pa.array(offs), ent_v),
                pa.array(seg_g[sel].astype(np.int64)),
                pa.array(seg_s[sel].astype(np.int32)),
                pa.array(seg_n[sel]),
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)
    if carry is not None:
        yield carry.batch(out_schema)


def fold_changes(changes: DataFrame, key_cols=("repo", "path")) -> DataFrame:
    """changes (CHANGE_SCHEMA) → one folded delta row per key:
    ``(_k_*, del, full, m, g, s, n_events)``; ``g``/``s`` are the
    high-water (gtid_seq, seq_in_txn) consumed into the fold (idempotency
    guard).

    The standalone fold: one key shuffle, then ``fold_batches`` in one
    ``mapInArrow``. The replay does not call it: ``LakeTable.apply_changes``
    runs ``fold_batches`` inside the MERGE kernel behind one shuffle by
    bucket."""
    keyed = with_key(changes, key_cols)
    keys = [f"_k_{k}" for k in key_cols]
    src = keyed.select(*keys, "gtid_seq", "seq_in_txn", "op", "after")
    src = src.repartition(*[F.col(k) for k in keys])
    src = src.sortWithinPartitions(*keys, "gtid_seq", "seq_in_txn")
    nkeys = len(keys)
    partials = src.mapInArrow(lambda batches: fold_batches(batches, nkeys),
                              schema=_partial_schema(keys))
    # mk is unique per row (kernel dedup) — safe under any
    # spark.sql.mapKeyDedupPolicy, including the EXCEPTION default
    return partials.select(
        *keys, "del", "full",
        F.map_from_arrays("mk", "mv").alias("m"),
        "g", "s", "n_events")


def lww_latest(changes: DataFrame, key_cols=("repo", "path")) -> DataFrame:
    """Plain last-writer-wins: the single latest change row per key in
    (gtid_seq, seq_in_txn) order — the dedup window from SURVEY §2.2.
    Implemented as ``max_by`` (partial-aggregable map-side, no window
    sort shuffle of the full change set)."""
    keyed = with_key(changes, key_cols)
    keys = [f"_k_{k}" for k in key_cols]
    payload = F.struct(*[F.col(c) for c in changes.columns])
    order = F.struct(F.col("gtid_seq"), F.col("seq_in_txn"))
    latest = keyed.groupBy(*keys).agg(F.max_by(payload, order).alias("row"))
    return latest.select(*keys, "row.*")

"""Transaction assembly: a file-local forward pass, with windows as fallback.

Both paths re-express the reference's single-threaded BEGIN/XID/ROLLBACK
state machine (its `row_streamer.go:90-343` — BEGIN opens a buffer
:98-105, XID/COMMIT emits :107-118, ROLLBACK drops :197-199, rows events
with no BEGIN autocommit :96,266-270) with the same semantics:

* ``gtid_seq`` — every transaction group starts with a GTID event; each
  row belongs to the last GTID at or before it in its file, and rows
  before a file's first GTID belong to no group and are dropped.
* per-group flags (``begin``/``commit``/``rollback`` markers) decide the
  commit outcome: rolled-back groups are dropped, open trailing groups at
  EOF are dropped (the reference only delivers on commit), groups with no
  BEGIN autocommit.

``assemble_file_local`` is the replay path. It runs inside the decode
task (``decode.decode_assembled``): each Arrow batch is decoded, put back
in (file, pos) order and swept forward once, and only the group still
open at the batch's end carries into the next batch, so memory is bounded
by the largest transaction. It is exact when a partition holds each of
its files as one run in position order with increasing GTIDs, and it
reports per file whether that held.

``assemble_transactions`` is the window formulation: one shuffle by
``file``, then windows over (file, pos). It makes no layout assumption,
so it re-assembles the files the forward pass reports as irregular, and
it is the forward pass's oracle in tests.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import schema as S

_CHANGE_COLS = [f.name for f in S.CHANGE_SCHEMA.fields]
_ARROW_SCHEMA = None


def _arrow_schema():
    global _ARROW_SCHEMA
    if _ARROW_SCHEMA is None:
        from pyspark.sql.pandas.types import to_arrow_schema

        _ARROW_SCHEMA = to_arrow_schema(S.CHANGE_SCHEMA)
    return _ARROW_SCHEMA


class _Group:
    """The transaction group still open at the end of an Arrow batch:
    its file, its GTID (None before the file's first GTID), its marker
    flags and its change rows so far, already stamped."""

    __slots__ = ("file", "gtid", "begin", "commit", "rollback", "rows", "n")

    def __init__(self, file, gtid, begin, commit, rollback):
        self.file, self.gtid = file, gtid
        self.begin, self.commit, self.rollback = begin, commit, rollback
        self.rows, self.n = [], 0

    def committed(self) -> bool:
        return (self.gtid is not None and not self.rollback
                and (self.commit or not self.begin))


def _check_frames(codes, names: list, pos, files: dict, last_file):
    """Extend the per-file report ``{file: [first_pos, last_pos, ok,
    last_gtid]}`` with one input batch, in partition order: a file stops
    being ok once its frames are not one run in non-decreasing ``pos``.
    Returns the batch's last file."""
    brk = np.flatnonzero(codes[1:] != codes[:-1]) + 1
    for s, e in zip([0] + brk.tolist(), brk.tolist() + [codes.size]):
        f = names[codes[s]]
        st = files.get(f)
        if st is None:
            files[f] = st = [int(pos[s]), int(pos[e - 1]), True, None]
        elif f != last_file or pos[s] < st[1]:
            st[2] = False
        st[1] = int(pos[e - 1])
        last_file = f
    back = np.flatnonzero(pos[1:] < pos[:-1]) + 1
    for i in back[codes[back] == codes[back - 1]].tolist():
        files[names[codes[i]]][2] = False
    return last_file


def _check_gtids(fc, gtid, is_gtid, names: list, files: dict):
    """A file stops being ok once a GTID is not above the file's previous
    one (which covers every repeated GTID): the forward pass would split
    a group the window path keys as one."""
    gi = np.flatnonzero(is_gtid)
    if not gi.size:
        return
    gf, gv = fc[gi], gtid[gi]
    drop = (gf[1:] == gf[:-1]) & (gv[1:] <= gv[:-1])
    for c in np.unique(gf[1:][drop]).tolist():
        files[names[c]][2] = False
    for c in np.unique(gf).tolist():
        vals = gv[gf == c]
        st = files[names[c]]
        if st[3] is not None and vals[0] <= st[3]:
            st[2] = False
        st[3] = int(vals[-1])


def _stamp(t: pa.Table, idx, gtid, seq) -> pa.Table:
    """Rows ``idx`` of a decoded table as CHANGE_SCHEMA rows stamped with
    their group's GTID (``gtid_seq`` = ``txn_id``) and ``seq_in_txn``."""
    rest = t.select(_CHANGE_COLS[3:]).take(pa.array(idx))
    g = pa.array(gtid, pa.int64())
    return pa.Table.from_arrays(
        [g, g, pa.array(seq.astype(np.int32))] + rest.columns,
        schema=_arrow_schema())


def _mask(col, kind: str):
    return pc.equal(col, kind).to_numpy()


def _sweep(t: pa.Table, names_arr, names: list, group, files: dict):
    """Forward pass over one decoded batch. Returns the committed rows it
    closes (tables) and the group left open at its end."""
    fc_arr = pc.index_in(t.column("file"), value_set=names_arr)
    perm = pc.sort_indices(
        pa.table({"f": fc_arr, "p": t.column("pos"),
                  "s": t.column("seq_in_event")}),
        sort_keys=[("f", "ascending"), ("p", "ascending"),
                   ("s", "ascending")],
        null_placement="at_start").to_numpy()
    fc = fc_arr.to_numpy()[perm]
    kind = t.column("kind")
    is_g, is_c = _mask(kind, "gtid")[perm], _mask(kind, "change")[perm]
    gtid = pc.fill_null(t.column("gtid_seq"), 0).to_numpy()[perm]
    _check_gtids(fc, gtid, is_g, names, files)

    start = is_g.copy()
    start[0] = True
    start[1:] |= fc[1:] != fc[:-1]
    starts = np.flatnonzero(start)
    seg = np.cumsum(start) - 1
    flags = [np.logical_or.reduceat(_mask(kind, k)[perm], starts)
             for k in ("begin", "commit", "rollback")]
    valid = is_g[starts]
    gval = gtid[starts]
    offset = np.zeros(starts.size, np.int64)

    out = []
    cont = (group is not None and not is_g[0]
            and group.file == names[fc[0]])
    if group is not None and not cont:
        if group.committed():
            out += group.rows
        group = None
    if cont:  # the first segment continues the carried group
        valid[0] = group.gtid is not None
        gval[0] = group.gtid if valid[0] else 0
        for f, v in zip(flags, (group.begin, group.commit, group.rollback)):
            f[0] |= v
        offset[0] = group.n
    bg, cm, rb = flags
    keep = valid & ~rb & (cm | ~bg)

    chg = is_c.astype(np.int64)
    before = np.cumsum(chg) - chg
    seq = before - before[starts][seg] + offset[seg]
    last = starts.size - 1
    if cont and last > 0 and keep[0]:
        out += group.rows
    emit = np.flatnonzero(is_c & keep[seg] & (seg < last))
    if emit.size:
        out.append(_stamp(t, perm[emit], gval[seg[emit]], seq[emit]))

    tail = np.flatnonzero(is_c & (seg == last))
    rows = ([_stamp(t, perm[tail], gval[seg[tail]], seq[tail])]
            if tail.size and valid[last] else [])
    if not (cont and last == 0):
        group = _Group(names[fc[starts[last]]],
                       int(gval[last]) if valid[last] else None,
                       *(bool(f[last]) for f in flags))
    else:
        group.begin, group.commit, group.rollback = (
            bool(f[0]) for f in flags)
    group.rows += rows
    group.n += tail.size
    return out, group


def assemble_file_local(batches, ctx, ddl_acc, files: dict):
    """One partition's frame batches (file, pos, etype, frame) → committed
    change rows (CHANGE_SCHEMA RecordBatches) with ``gtid_seq``,
    ``txn_id`` and ``seq_in_txn`` stamped.

    Each batch is decoded by the colsplit kernel (``ctx``/``ddl_acc`` as
    for ``colsplit.decode_batch_arrow``), put in (file in order of first
    appearance, pos, seq_in_event nulls first) order and swept forward
    once. The group open at a batch's end carries into the next batch; a
    file change or the end of the partition closes it.

    ``files`` receives ``{file: [first_pos, last_pos, ok, last_gtid]}``.
    ``ok`` is false when the file's frames were not one run in
    non-decreasing ``pos`` or a GTID was not above the file's previous
    one; such a file's rows here are not its assembly, and the caller
    must re-assemble it with ``assemble_transactions``."""
    from . import colsplit

    group = last_file = None
    for rb in batches:
        if not rb.num_rows:
            continue
        enc = rb.column(0).dictionary_encode()
        names = enc.dictionary.to_pylist()
        last_file = _check_frames(
            enc.indices.to_numpy(zero_copy_only=False), names,
            rb.column(1).to_numpy(zero_copy_only=False), files, last_file)
        decoded = list(colsplit.decode_batch_arrow(rb, ctx, ddl_acc))
        t = pa.Table.from_batches(decoded) if decoded else None
        if t is None or not t.num_rows:
            continue
        out, group = _sweep(t, enc.dictionary, names, group, files)
        for tbl in out:
            yield from tbl.to_batches()
    if group is not None and group.committed():
        for tbl in group.rows:
            yield from tbl.to_batches()


def assemble_transactions(decoded: DataFrame) -> DataFrame:
    """decoded (DECODE_OUTPUT_SCHEMA) → committed change rows (CHANGE_SCHEMA).

    Also computes ``seq_in_txn`` (event order within the transaction) and
    ``txn_id`` (= gtid_seq; the transaction grouping key).
    """
    order = [F.col("file").asc(), F.col("pos").asc(),
             F.col("seq_in_event").asc_nulls_first()]
    w_run = (
        Window.partitionBy("file").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = decoded.withColumn(
        "gtid_seq",
        F.last(F.when(F.col("kind") == "gtid", F.col("gtid_seq")), True).over(w_run),
    )

    # one Window node for all three outcome flags (same spec → Catalyst
    # evaluates them in a single pass over the sorted partition)
    w_txn = Window.partitionBy("file", "gtid_seq")
    df = df.select(
        "*",
        F.max((F.col("kind") == "rollback").cast("int")).over(w_txn).alias("_rb"),
        F.max((F.col("kind") == "commit").cast("int")).over(w_txn).alias("_cm"),
        F.max((F.col("kind") == "begin").cast("int")).over(w_txn).alias("_bg"),
    )
    committed = df.where(
        (F.col("kind") == "change")
        & F.col("gtid_seq").isNotNull()
        & (F.col("_rb") == 0)
        & ((F.col("_cm") == 1) | (F.col("_bg") == 0))  # autocommit fallback
    )
    w_seq = Window.partitionBy("file", "gtid_seq").orderBy(*order)
    committed = (
        committed.withColumn("seq_in_txn", F.row_number().over(w_seq) - 1)
        .withColumn("txn_id", F.col("gtid_seq"))
    )
    return committed.select(*[f.name for f in S.CHANGE_SCHEMA.fields])


def transaction_summaries(changes: DataFrame) -> DataFrame:
    """Per-transaction positions — the resume-token bookkeeping
    (``Transaction{NowPosition, NextPosition}``, transaction.go:9-14)."""
    return changes.groupBy("file", "txn_id").agg(
        F.min("pos").alias("start_pos"),
        F.max("next_pos").alias("next_pos"),
        F.max("ts").alias("ts"),
        F.count("*").alias("n_events"),
    )


def changes_to_json(changes: DataFrame) -> DataFrame:
    """P30 JSON sink: change rows → one JSON document per event, the debug
    parity dump of the reference's ``Transaction.MarshalJSON``
    (transaction.go:28-41,73-99,137-157 — there: Type/Table/SQL/Timestamp/
    RowValues/RowIdentifies; here the same content keyed op/tbl/ts/after/
    before plus our position fields). Pure ``to_json(struct(...))`` —
    JVM-side, no Python."""
    return changes.select(
        F.to_json(F.struct(
            F.col("op"), F.col("db"), F.col("tbl"), F.col("ts"),
            F.col("gtid_seq"), F.col("seq_in_txn"),
            F.col("file"), F.col("pos"), F.col("next_pos"),
            F.col("before"), F.col("after"),
        )).alias("json")
    )

"""Columnar ROWS-event cell splitter: the batch-vectorized decode kernel.

The scalar kernel (`wire/events.py` ``read_row_maps`` + the exec-codegen'd
image decoders) walks each row image in interpreted Python. This module
replaces that inner loop for the overwhelmingly common case with a
*columnar* formulation over whole Arrow batches — the planned SURVEY §7
"hard part" and the r2 verdict's top directive:

1. ROWS frames are grouped by **(schema version, event type, present
   bitmaps)** signature — within a group every row image has the same
   column layout (the reference's per-cell layout,
   `/root/reference/replication/binlog_event_rbr.go:195-310`, is fixed-width
   or length-prefixed — all offset-computable).
2. Rows decode in **waves**: wave *k* processes the *k*-th row of every
   frame in the group simultaneously. Within a wave, per-column offsets
   chain through vectorized numpy gathers (a length prefix is one fancy
   index + shift-or, regardless of row count), so the Python/numpy op
   count is O(columns × waves), independent of the number of rows.
3. Cell bytes are sliced with a single vectorized repeat/cumsum gather
   into one contiguous buffer per column and wrapped zero-copy as an
   Arrow ``binary`` array; UTF-8 validation happens in Arrow's C++ cast
   (with the engine's lossless latin-1 fallback when it fails). Integer
   columns decode as shift-or vectors and cast to canonical decimal
   strings in C++.
4. The ``before``/``after`` maps are assembled directly as Arrow
   ``MapArray``s from (constant-per-group) key vectors and one
   interleaving ``take`` — no per-row Python dict ever exists.

A SQL NULL cell is a zero-width cell: each step reads its column's bit
from the row image's null bitmap, a NULL row's cursor moves by 0 and its
value is null in the column's Arrow validity (a ``None`` map value, as the
scalar kernel emits). Schemas with cell types outside the columnar set
(ints, VARCHAR/VARSTRING, BLOB family) fall back frame-wise to the scalar
kernel, as do marker/bookkeeping events (tiny fixed work per frame) and a
group whose wave overruns a rows-event body.

Output is produced as Arrow ``RecordBatch``es for ``mapInArrow`` — the
decode stage hands Spark ready-made Arrow buffers, skipping the
pandas→Arrow conversion entirely.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .. import schema as S
from ..wire import constants as C
from ..wire import events as E
from ..wire.codec import read_lenenc_int, to_text

_INT_W = {C.TYPE_TINY: 1, C.TYPE_SHORT: 2, C.TYPE_INT24: 3,
          C.TYPE_LONG: 4, C.TYPE_LONGLONG: 8}
_BLOB_TYPES = (C.TYPE_TINYBLOB, C.TYPE_MEDIUMBLOB, C.TYPE_LONGBLOB,
               C.TYPE_BLOB, C.TYPE_GEOMETRY)

_MAP_T = pa.map_(pa.string(), pa.string())


def _arrow_out_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(S.DECODE_OUTPUT_SCHEMA)


_OUT_SCHEMA = None


def _out_schema():
    global _OUT_SCHEMA
    if _OUT_SCHEMA is None:
        _OUT_SCHEMA = _arrow_out_schema()
    return _OUT_SCHEMA


class ImagePlan:
    """Columnar decode plan for one (schema, present-bitmap) row image.

    ``steps``: ``("int", width, signed)`` or ``("var", prefix_width)`` per
    present column, in wire order; ``names`` the present column names."""

    __slots__ = ("steps", "names", "null_nb")

    def __init__(self, steps, names, null_nb):
        self.steps = steps
        self.names = names
        self.null_nb = null_nb


def make_image_plan(types, metadata, unsigned, names, bits: int,
                    collations=None):
    """Build the columnar plan, or None if any present cell type is
    outside the vectorizable set (caller falls back to the scalar
    kernel). ``collations``: per-column MySQL collation ids — "var"
    steps for text columns with a known non-UTF-8 charset carry the
    source codec (decode-at-source, same contract as the scalar
    kernel)."""
    from ..wire.collations import source_codec

    cols = [c for c in range(len(types)) if bits >> c & 1]
    steps, pnames = [], []
    for c in cols:
        t, m = types[c], metadata[c]
        codec = (source_codec(collations[c]) if collations
                 and t != C.TYPE_GEOMETRY else None)
        if t in _INT_W:
            steps.append(("int", _INT_W[t], not unsigned[c]))
        elif t in (C.TYPE_VARCHAR, C.TYPE_VARSTRING):
            steps.append(("var", 2 if m > 255 else 1, codec))
        elif t in _BLOB_TYPES and 1 <= m <= 4:
            steps.append(("var", m, codec))
        else:
            return None
        pnames.append(names[c])
    return ImagePlan(steps, pnames, (len(cols) + 7) // 8)


def _read_uint(buf, starts, nbytes: int):
    """Vectorized little-endian unsigned read of ``nbytes`` at ``starts``."""
    v = buf[starts].astype(np.uint64)
    for b in range(1, nbytes):
        v |= buf[starts + b].astype(np.uint64) << np.uint64(8 * b)
    return v


def _wave_cells(buf, cur, plan: ImagePlan):
    """Decode one image for every row in a wave.

    ``cur`` points at the image's null bitmap. Returns (per-step values,
    end offsets): ``(ints, null)`` for "int" steps and ``(cell_starts,
    cell_lens, null)`` for "var" steps. A NULL cell is zero-width; its
    bytes are read at offset 0 instead (a NULL cell may end the buffer)
    and ignored.
    """
    nb = plan.null_nb
    nulls = np.unpackbits(buf[cur[:, None] + np.arange(nb)], axis=1,
                          count=len(plan.steps),
                          bitorder="little").view(bool)
    any_null = nulls.any()
    cur = cur + nb
    out = []
    for j, step in enumerate(plan.steps):
        null = nulls[:, j]
        at = np.where(null, 0, cur) if any_null else cur
        if step[0] == "int":
            w, signed = step[1], step[2]
            v = _read_uint(buf, at, w)
            if signed:
                if w == 8:
                    v = v.view(np.int64)
                else:
                    v = v.astype(np.int64)
                    half, full = 1 << (8 * w - 1), 1 << (8 * w)
                    v = v - (v >= half) * full
            elif w != 8:
                v = v.astype(np.int64)
            out.append((v, null))
            cur = cur + (np.where(null, 0, w) if any_null else w)
        else:
            p = step[1]
            ln = _read_uint(buf, at, p).astype(np.int64)
            if any_null:
                ln[null] = 0
            out.append((cur + p, ln, null))
            cur = cur + (np.where(null, 0, p + ln) if any_null else p + ln)
    return out, cur


def _string_column(buf, starts, lens, null, codec=None) -> pa.Array:
    """Gather variable-length cells into one contiguous Arrow string array.

    One repeat/cumsum fancy-index per column per batch; UTF-8 validation
    is Arrow's C++ binary→utf8 cast, with the engine's lossless latin-1
    per-cell fallback on invalid bytes (codec.to_text contract). NULL
    cells (``null``, zero length) come out null.
    ``codec``: a declared non-UTF-8 column charset decodes every cell
    with the real codec instead (per-cell Python — acceptable: it runs
    only for columns a schema provider explicitly marked non-UTF-8)."""
    n = starts.size
    if n == 0:
        return pa.array([], type=pa.string())
    total = int(lens.sum())
    if total >= 1 << 31:  # keep 32-bit offsets valid (batches are ~MBs)
        raise ValueError("cell bytes exceed 2 GiB in one batch")
    offsets = np.empty(n + 1, np.int32)
    offsets[0] = 0
    np.cumsum(lens, out=offsets[1:], dtype=np.int32)
    # gather-index build as one int32 cumsum over a delta vector (3 memory
    # passes) instead of repeat+arange int64 vectors (~7 passes at twice
    # the width) — this loop IS the kernel's byte-movement cost
    if bool((lens > 0).all()):
        s32 = starts.astype(np.int32)
        l32 = lens.astype(np.int32)
        bnd = offsets[1:-1]
    else:  # zero-length cells would collide scatter positions: drop them
        nz = lens > 0
        s32 = starts[nz].astype(np.int32)
        l32 = lens[nz].astype(np.int32)
        bnd = np.cumsum(l32[:-1]) if l32.size else l32
    step = np.ones(total, np.int32)
    if s32.size:
        step[0] = s32[0]
        step[bnd] = s32[1:] - (s32[:-1] + l32[:-1]) + 1
    idx = np.cumsum(step, dtype=np.int32)
    data = buf[idx]
    validity = (pa.py_buffer(np.packbits(~null, bitorder="little"))
                if null.any() else None)
    arr = pa.Array.from_buffers(
        pa.binary(), n, [validity, pa.py_buffer(offsets), pa.py_buffer(data)])
    if codec is not None:
        return pa.array([None if b is None else b.decode(codec, "replace")
                         for b in arr.to_pylist()], type=pa.string())
    try:
        return arr.cast(pa.string())
    except pa.lib.ArrowInvalid:
        return pa.array([None if b is None else to_text(b)
                         for b in arr.to_pylist()], type=pa.string())


def _int_column(vals, null) -> pa.Array:
    return pa.array(vals, mask=null).cast(pa.string())


def _map_column(names, value_arrays, n: int) -> pa.Array:
    """Row-major MapArray from k per-column value arrays of length n."""
    k = len(names)
    if k == 0 or n == 0:
        offsets = np.zeros(n + 1, np.int32)
        return pa.MapArray.from_arrays(
            pa.array(offsets), pa.array([], type=pa.string()),
            pa.array([], type=pa.string()))
    stacked = pa.concat_arrays([a.combine_chunks() if hasattr(a, "chunks")
                                else a for a in value_arrays])
    j = np.arange(n * k, dtype=np.int64)
    items = stacked.take(pa.array((j % k) * n + j // k))
    keys = pa.array(names, type=pa.string()).take(
        pa.array(np.tile(np.arange(k, dtype=np.int32), n)))
    offsets = np.arange(n + 1, dtype=np.int32) * np.int32(k)
    return pa.MapArray.from_arrays(pa.array(offsets), keys, items)


class _Group:
    """All ROWS frames of one (schema, etype, bitmaps) signature in a
    batch."""

    __slots__ = ("ident_plan", "data_plan", "op", "db", "tbl", "bidx",
                 "row_start", "body_end")

    def __init__(self, ident_plan, data_plan, op, db, tbl):
        self.ident_plan = ident_plan
        self.data_plan = data_plan
        self.op = op
        self.db = db
        self.tbl = tbl
        self.bidx = []        # batch row index per frame
        self.row_start = []   # absolute offset of first row image
        self.body_end = []    # absolute end (checksum excluded)


def decode_group(group: _Group, buf, pos_np, next_np, ts_np, file_col):
    """Wave-decode one signature group → a DECODE_OUTPUT RecordBatch
    holding every row of its frames, NULL cells included (None if the
    group is empty).

    Raises ValueError when a wave overruns a frame's body (the caller
    sends the group to the scalar kernel)."""
    bidx = np.asarray(group.bidx, np.int64)
    cur = np.asarray(group.row_start, np.int64)
    end = np.asarray(group.body_end, np.int64)
    ip, dp = group.ident_plan, group.data_plan

    acc_bidx, acc_seq = [], []
    acc_ident = [[] for _ in (ip.steps if ip else [])]
    acc_data = [[] for _ in (dp.steps if dp else [])]

    wave = 0
    while True:
        alive = np.nonzero(cur < end)[0]
        if alive.size == 0:
            break
        acur = cur[alive]
        for plan, acc in ((ip, acc_ident), (dp, acc_data)):
            if plan is None:
                continue
            vals, acur = _wave_cells(buf, acur, plan)
            # bounds sanity: a cursor past body_end means the frame was
            # mis-sized or corrupt — the WHOLE group goes to the scalar
            # kernel (caller catches) instead of emitting garbage rows
            if np.any(acur > end[alive]):
                raise ValueError("wave overran rows-event body")
            for a, v in zip(acc, vals):
                a.append(v)
        acc_bidx.append(bidx[alive])
        acc_seq.append(np.full(alive.size, wave, np.int32))
        cur[alive] = acur
        wave += 1

    n = sum(a.size for a in acc_bidx)
    if n == 0:
        return None
    bidx_all = np.concatenate(acc_bidx)
    seq_all = np.concatenate(acc_seq)

    def _column(step, chunks):
        parts = [np.concatenate(c) for c in zip(*chunks)]
        if step[0] == "int":
            return _int_column(*parts)
        return _string_column(buf, *parts, step[2] if len(step) > 2 else None)

    before = (pa.nulls(n, type=_MAP_T) if ip is None else _map_column(
        ip.names, [_column(s, acc_ident[i]) for i, s in enumerate(ip.steps)],
        n))
    after = (pa.nulls(n, type=_MAP_T) if dp is None else _map_column(
        dp.names, [_column(s, acc_data[i]) for i, s in enumerate(dp.steps)],
        n))

    idx = pa.array(bidx_all)
    arrays = [
        pa.nulls(n, type=pa.int64()),              # gtid_seq
        pa.nulls(n, type=pa.int64()),              # txn_id
        pa.nulls(n, type=pa.int32()),              # seq_in_txn
        file_col.take(idx),                        # file
        pa.array(pos_np[bidx_all]),                # pos
        pa.array(next_np[bidx_all]),               # next_pos
        pa.array(ts_np[bidx_all]),                 # ts
        pa.repeat(pa.scalar(group.op), n),         # op
        pa.repeat(pa.scalar(group.db), n),         # db
        pa.repeat(pa.scalar(group.tbl), n),        # tbl
        before, after,
        pa.array(seq_all),                         # seq_in_event
        pa.repeat(pa.scalar("change"), n),         # kind
        pa.nulls(n, type=pa.string()),             # sql
        pa.nulls(n, type=pa.string()),             # reason
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=_out_schema())


def decode_batch_arrow(batch: pa.RecordBatch, ctx, ddl_acc=None):
    """One input RecordBatch (file, pos, etype, frame) → iterator of
    DECODE_OUTPUT RecordBatches: columnar groups first, then one batch of
    scalar rows (markers, dead letters, fallback frames)."""
    import bisect

    import pandas as pd

    from . import decode as D

    fmt, tmaps, tmap_keys, name_index, mapper, caches = ctx
    plan_cache = caches.setdefault("plans", {})

    n = batch.num_rows
    if n == 0:
        return
    file_col = batch.column(0)
    pos_np = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
    etype_np = batch.column(2).to_numpy(zero_copy_only=False)
    frame_arr = batch.column(3)
    # the frames already sit in ONE contiguous Arrow buffer — use it
    # directly (no per-frame bytes materialization on the columnar path)
    bufs = frame_arr.buffers()
    off_np = np.frombuffer(bufs[1], np.int32)[
        frame_arr.offset : frame_arr.offset + n + 1].astype(np.int64)
    buf = np.frombuffer(bufs[2], np.uint8)
    mv = memoryview(bufs[2])
    flen = off_np[1:] - off_np[:-1]

    # vectorized v4 header fields straight off the shared buffer
    hdr_ok = flen >= C.HEADER_LEN
    starts = off_np[:-1]
    evlen = np.zeros(n, np.int64)
    next_np = np.zeros(n, np.int64)
    ts_np = np.zeros(n, np.int64)
    hs = starts[hdr_ok]
    for b in range(4):
        sh = np.int64(8 * b)
        evlen[hdr_ok] |= buf[hs + 9 + b].astype(np.int64) << sh
        next_np[hdr_ok] |= buf[hs + 13 + b].astype(np.int64) << sh
        ts_np[hdr_ok] |= buf[hs + b].astype(np.int64) << sh
    valid = hdr_ok & (evlen == flen)

    rows_mask = valid & np.isin(etype_np, list(C.ROWS_EVENT_TYPES))

    scalar_idx = []   # batch rows for the scalar sub-decode
    scalar_rows = []  # pre-built output tuples (deadletters)

    # file strings once per distinct value (frames are file-clustered) —
    # a per-frame Arrow scalar .as_py() is ~1µs each at 10^4 frames/batch
    fdict = file_col.dictionary_encode()
    file_code = fdict.indices.to_numpy(zero_copy_only=False)
    file_vals = fdict.dictionary.to_pylist()

    # ---- inline schema discovery overlay: TABLE_MAP / FORMAT_DESCRIPTION
    # frames in THIS partition feed the index directly (they precede their
    # ROWS events in file order, and mapInArrow preserves partition
    # order), so file-partitioned input needs no separate discovery job.
    # A passed index covers earlier batches only, so every TABLE_MAP is
    # parsed and checked against the version in effect at its position;
    # the versions it adds and the FORMAT_DESCRIPTION algorithms it sees
    # are listed in caches["found_tmaps"] / ["found_algs"] for the caller
    # to carry into the next batch's index.
    interned = caches.setdefault("interned", {})
    found_tmaps = caches.setdefault("found_tmaps", [])
    found_algs = caches.setdefault("found_algs", [])
    # per-frame checksum width: a FORMAT_DESCRIPTION inside this batch
    # switches the algorithm for every frame AFTER it (frames arrive
    # partition-ordered by (file, pos) and FD is the first event of its
    # file), so the width used to size each ROWS body must track the
    # switch points — a single batch-entry value mis-sizes every rows
    # frame between the batch start and a mid-batch FD (a stale CRC
    # width dropped or invented tail rows)
    fd_switches: list[tuple[int, int]] = []
    alg_at_entry = fmt.checksum_algorithm
    tm_mask = valid & ((etype_np == C.E_TABLE_MAP)
                       | (etype_np == C.E_FORMAT_DESCRIPTION))
    for i in np.nonzero(tm_mask)[0].tolist():
        fs = int(starts[i])
        frame = bytes(mv[fs : fs + int(flen[i])])
        if int(etype_np[i]) == C.E_FORMAT_DESCRIPTION:
            alg = E.parse_format_description(frame).checksum_algorithm
            fd_switches.append((i, alg))
            found_algs.append(alg)
            if alg != fmt.checksum_algorithm:
                fmt.checksum_algorithm = alg
            continue
        file = file_vals[file_code[i]]
        tid = E.parse_table_id(fmt, C.E_TABLE_MAP, frame)
        key = (file, tid)
        tm = E.parse_table_map(
            fmt, E.strip_checksum(fmt, C.E_TABLE_MAP, frame))
        sig = (tm.database, tm.name, tuple(tm.types), tuple(tm.metadata))
        pos = int(pos_np[i])
        vers = tmaps.get(key)
        if vers is not None:
            # a split or shuffled file's frames come out of position
            # order: a TABLE_MAP before every known version is new
            vi = bisect.bisect_right(tmap_keys[key], pos) - 1
            cur = vers[vi][1]
            if vi >= 0 and (cur[0], cur[1], tuple(cur[2]),
                            tuple(cur[3])) == sig:
                continue  # same version already in effect at this pos
        payload = interned.setdefault(
            sig, (tm.database, tm.name, tm.types, tm.metadata))
        if vers is None:
            tmaps[key] = [(pos, payload)]
            tmap_keys[key] = [pos]
        else:
            vers.append((pos, payload))
            vers.sort(key=lambda v: v[0])
            tmap_keys[key] = [v[0] for v in vers]
        found_tmaps.append((file, tid, pos, payload))

    def _crc_w(alg):
        return 4 if alg == C.CHECKSUM_ALG_CRC32 else 0

    crc_np = np.full(n, _crc_w(alg_at_entry), np.int64)
    for i, alg in fd_switches:
        crc_np[i:] = _crc_w(alg)

    for i in np.nonzero(rows_mask)[0].tolist():
        etype = int(etype_np[i])
        fs = int(starts[i])
        p = fs + C.HEADER_LEN
        if fmt.header_size(etype) == 6:
            table_id = int.from_bytes(mv[p : p + 4], "little")
            p += 4
        else:
            table_id = int.from_bytes(mv[p : p + 6], "little")
            p += 6
        p += 2  # rows flags
        if etype in C.ROWS_V2_TYPES:
            extra = mv[p] | mv[p + 1] << 8
            p += extra
        ncols, p = read_lenenc_int(mv, p)
        nb = (ncols + 7) // 8
        mask = (1 << ncols) - 1
        has_ident = (etype in C.UPDATE_ROWS_TYPES
                     or etype in C.DELETE_ROWS_TYPES)
        has_data = (etype in C.WRITE_ROWS_TYPES
                    or etype in C.UPDATE_ROWS_TYPES)
        ident_bits = data_bits = 0
        if has_ident:
            ident_bits = int.from_bytes(mv[p : p + nb], "little") & mask
            p += nb
        if has_data:
            data_bits = int.from_bytes(mv[p : p + nb], "little") & mask
            p += nb

        file = file_vals[file_code[i]]
        key = (file, table_id)
        vers = tmaps.get(key)
        # only a TABLE_MAP at an earlier position resolves the id
        vi = (bisect.bisect_right(tmap_keys[key], int(pos_np[i])) - 1
              if vers else -1)
        if vi < 0:
            scalar_rows.append(D._aux(
                file, int(pos_np[i]), int(next_np[i]), int(ts_np[i]), None,
                "deadletter", reason=f"no TABLE_MAP for id {table_id}"))
            continue
        payload = vers[vi][1]
        db, tbl, types, metadata = payload
        if len(types) != ncols:
            scalar_idx.append(i)  # let the scalar kernel dead-letter it
            continue

        gkey = (id(payload), etype, ident_bits, data_bits)
        group = plan_cache.get(gkey)
        if group is None:
            names_uns = D._resolve_names(name_index, mapper, db, tbl, ncols)
            if names_uns is None:
                group = "scalar"  # unknown table → scalar dead-letter path
            else:
                names, unsigned, colls = names_uns
                ip = (make_image_plan(types, metadata, unsigned, names,
                                      ident_bits, colls)
                      if has_ident else None)
                dp = (make_image_plan(types, metadata, unsigned, names,
                                      data_bits, colls)
                      if has_data else None)
                if (has_ident and ip is None) or (has_data and dp is None):
                    group = "scalar"  # unsupported cell type → scalar kernel
                else:
                    op = ("I" if etype in C.WRITE_ROWS_TYPES else
                          "U" if etype in C.UPDATE_ROWS_TYPES else "D")
                    group = _Group(ip, dp, op, db, tbl)
            plan_cache[gkey] = group
        if group == "scalar":
            scalar_idx.append(i)
            continue
        body_end = fs + int(flen[i]) - int(crc_np[i])
        if not (ident_bits | data_bits) and p < body_end:
            # zero-width images: no wave would advance (as read_row_maps)
            scalar_rows.append(D._aux(
                file, int(pos_np[i]), int(next_np[i]), int(ts_np[i]), None,
                "deadletter", reason=E.NO_PRESENT_COLUMNS))
            continue
        group.bidx.append(i)
        group.row_start.append(p)
        group.body_end.append(body_end)

    # ---- markers, vectorized: GTID (both flavors) and XID rows have a
    # fixed-offset payload — decode them columnar. QUERY classification,
    # ROWS_QUERY, INTVAR/RAND and invalid frames keep the scalar kernel;
    # pure-bookkeeping frames (FORMAT_DESCRIPTION, TABLE_MAP, ROTATE,
    # PREVIOUS_GTIDS, ...) are skipped outright instead of riding the
    # scalar sub-batch just to be skipped there.
    gtid_mask = valid & (etype_np == C.E_GTID)
    mgtid_mask = valid & (etype_np == C.E_GTID_MARIADB)
    xid_mask = valid & (etype_np == C.E_XID)
    for m, kind, goff, signed in ((gtid_mask, "gtid", 36, True),
                                  (mgtid_mask, "gtid", 19, False),
                                  (xid_mask, "commit", None, None)):
        sel = np.nonzero(m)[0]
        if not sel.size:
            continue
        if goff is not None:
            gs = starts[sel]
            gno = _read_uint(buf, gs + goff, 8)
            gno = gno.view(np.int64) if signed else gno.astype(np.int64)
            gtid_arr = pa.array(gno)
        else:
            gtid_arr = pa.nulls(sel.size, type=pa.int64())
        k = sel.size
        idx = pa.array(sel)
        yield pa.RecordBatch.from_arrays([
            gtid_arr,
            pa.nulls(k, type=pa.int64()),
            pa.nulls(k, type=pa.int32()),
            file_col.take(idx),
            pa.array(pos_np[sel]),
            pa.array(next_np[sel]),
            pa.array(ts_np[sel]),
            pa.nulls(k, type=pa.string()),
            pa.nulls(k, type=pa.string()),
            pa.nulls(k, type=pa.string()),
            pa.nulls(k, type=_MAP_T),
            pa.nulls(k, type=_MAP_T),
            pa.nulls(k, type=pa.int32()),
            pa.repeat(pa.scalar(kind), k),
            pa.nulls(k, type=pa.string()),
            pa.nulls(k, type=pa.string()),
        ], schema=_out_schema())

    # remaining frames that produce output rows → scalar kernel
    scalar_etypes = [C.E_QUERY, C.E_ROWS_QUERY, C.E_INTVAR, C.E_RAND]
    other = ~rows_mask & ~gtid_mask & ~mgtid_mask & ~xid_mask & (
        ~valid | np.isin(etype_np, scalar_etypes))
    scalar_idx.extend(np.nonzero(other)[0].tolist())

    # ---- columnar groups (cached across batches; per-batch frame lists
    # reset after each use). A group that trips an unexpected layout
    # (e.g. corrupt interior bytes driving an offset out of range) falls
    # back wholesale to the scalar kernel — exactness over speed.
    live_groups = [g for g in plan_cache.values()
                   if isinstance(g, _Group) and g.bidx]
    for g in live_groups:
        try:
            rb = decode_group(g, buf, pos_np, next_np, ts_np, file_col)
        except (IndexError, ValueError):
            scalar_idx.extend(g.bidx)
        else:
            if rb is not None:
                yield rb
        g.bidx, g.row_start, g.body_end = [], [], []

    # ---- scalar sub-batch through the reference kernel
    if scalar_idx or scalar_rows:
        if scalar_idx:
            scalar_idx.sort()
            sub = batch.take(pa.array(np.asarray(scalar_idx, np.int64)))
            pdf = sub.to_pandas()
        else:
            pdf = pd.DataFrame(
                {"file": [], "pos": [], "etype": [], "frame": []})
        out_pdf = D.decode_batch(pdf, ctx, ddl_acc, extra_rows=scalar_rows)
        if len(out_pdf):
            yield _pandas_to_arrow(out_pdf)


def _pandas_to_arrow(pdf) -> pa.RecordBatch:
    """DECODE_OUTPUT pandas frame (object columns, dict-valued maps) →
    RecordBatch with the exact output schema."""
    schema = _out_schema()
    arrays = []
    for field in schema:
        col = pdf[field.name]
        arrays.append(pa.array(col.tolist(), type=field.type,
                               from_pandas=True))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)

"""Vectorized binlog decode: frames DataFrame → change-row DataFrame.

Spark-first re-expression of the reference's single-threaded parse loop
(`/root/reference/row_streamer.go:90-343` ``parseEvents``) as two
shuffle-free Arrow stages:

1. **Decode + assembly** (`decode_assembled`): one ``mapInArrow`` task
   per partition decodes its frames and assembles their transactions
   (``transactions.assemble_file_local``). TABLE_MAP and
   FORMAT_DESCRIPTION frames are resolved by the inline overlay as the
   task meets them, on top of the index of earlier batches — the
   distributed analogue of the reference's per-tableID schema cache
   (`row_streamer.go:41-44,220-243`), including its
   refresh-on-new-TABLE_MAP schema-change hook (`row_streamer.go:220-223`).
   The task reports per file whether its partition held it whole, and
   the versions the overlay added.

2. **Fallback** for the files that report says were not held whole:
   every frame still met some task's overlay, so the reported versions
   index every TABLE_MAP of those files at its position; `decode_frames`
   then decodes every frame under *any* partitioning, each frame
   resolving its table schema from that broadcast index by (file,
   table_id, pos) binary search; ``transactions.assemble_transactions``
   then groups the result behind one shuffle by file. ``decode_frames``
   emits change rows plus gtid/begin/commit/rollback marker rows, a DDL
   side channel, and a dead-letter channel (INTVAR/RAND etc., which the
   reference rejects as errors — row_streamer.go:331-339). Without a
   report (`pipeline.decode_to_changes`), schema discovery
   (`discover_stream_meta`) builds the index in a job of its own from
   the FORMAT_DESCRIPTION and TABLE_MAP frames alone (the `etype`
   predicate is pushed down to the parquet scan).

Column names and signedness come from a pluggable schema provider — the
analogue of the reference's ``MysqlTableMapper`` (`row_streamer.go:19-21`).
``as_table_mapper`` accepts either the static registry dict or any user
object with ``mysql_table(db, tbl, ncols)``, resolved lazily at stream
time and cached per executor (the `row_streamer.go:220-243` cache);
width-keyed lookups bind an ALTER-evolved TABLE_MAP (more columns) to the
evolved name vector, with the reference's column-count consistency check
(`row_streamer.go:236-241`) surfacing as a dead-letter row.
"""

from __future__ import annotations

import bisect
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as S
from ..wire import constants as C
from ..wire import events as E

_META_SCHEMA = (
    "file string, pos long, table_id long, db string, tbl string, "
    "types array<int>, metadata array<int>, checksum_alg int"
)


def discover_stream_meta(frames: DataFrame) -> dict:
    """Scan TABLE_MAP + FORMAT_DESCRIPTION frames → broadcastable index.

    Returns ``{"checksum_alg": int, "table_maps": {(file, table_id):
    [(pos, (db, tbl, types, metadata)), ...sorted]}}``.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fmt = E.BinlogFormat()
        for pdf in batches:
            out = {k: [] for k in ("file", "pos", "table_id", "db", "tbl",
                                   "types", "metadata", "checksum_alg")}
            for file, pos, etype, frame in zip(pdf["file"], pdf["pos"],
                                               pdf["etype"], pdf["frame"]):
                if etype == C.E_FORMAT_DESCRIPTION:
                    f = E.parse_format_description(frame)
                    out["file"].append(file); out["pos"].append(pos)
                    out["table_id"].append(-1)
                    out["db"].append(None); out["tbl"].append(None)
                    out["types"].append(None); out["metadata"].append(None)
                    out["checksum_alg"].append(f.checksum_algorithm)
                elif etype == C.E_TABLE_MAP:
                    body = E.strip_checksum(fmt, etype, frame)
                    tm = E.parse_table_map(fmt, body)
                    out["file"].append(file); out["pos"].append(pos)
                    out["table_id"].append(tm.table_id)
                    out["db"].append(tm.database); out["tbl"].append(tm.name)
                    out["types"].append(tm.types)
                    out["metadata"].append(tm.metadata)
                    out["checksum_alg"].append(None)
            yield pd.DataFrame(out)

    meta = (
        frames
        .where(F.col("etype").isin(C.E_TABLE_MAP, C.E_FORMAT_DESCRIPTION))
        .select("file", "pos", "etype", "frame")
        .mapInPandas(_decode, schema=_META_SCHEMA)
    )
    # collapse to distinct schema versions: first-seen pos per fingerprint.
    # FORMAT_DESCRIPTION rows (table_id=-1) ride along in the same grouped
    # aggregation so the whole discovery is ONE Spark job / ONE collect.
    versions = (
        meta.groupBy("file", "table_id", "db", "tbl",
                     F.col("types").cast("array<int>").alias("types"),
                     F.col("metadata").cast("array<int>").alias("metadata"))
        .agg(F.min("pos").alias("valid_from"),
             F.max("checksum_alg").alias("alg"))
    )
    checksum = None
    index: dict = {}
    for r in versions.collect():
        if r["table_id"] < 0:
            if r["alg"] is not None:
                checksum = max(checksum or 0, r["alg"])
            continue
        key = (r["file"], r["table_id"])
        index.setdefault(key, []).append(
            (r["valid_from"], (r["db"], r["tbl"], list(r["types"]),
                               list(r["metadata"]))))
    for v in index.values():
        v.sort(key=lambda x: x[0])
    return {
        "checksum_alg": checksum if checksum is not None else C.CHECKSUM_ALG_CRC32,
        "table_maps": index,
    }


def merge_stream_meta(acc: dict, new: dict) -> dict:
    """``acc`` with ``new``'s TABLE_MAP versions added (a version at the
    same position is replaced) and ``new``'s checksum algorithm, if it
    has one."""
    out = {"checksum_alg": new.get("checksum_alg", acc["checksum_alg"]),
           "table_maps": dict(acc["table_maps"])}
    for key, vers in new["table_maps"].items():
        merged = {v[0]: v[1] for v in out["table_maps"].get(key, [])}
        for pos, schema in vers:
            merged[pos] = tuple(schema)
        out["table_maps"][key] = sorted(merged.items())
    return out


_OUT_COLS = [f.name for f in S.DECODE_OUTPUT_SCHEMA.fields]


class StaticTableMapper:
    """Default schema provider wrapping the registry dict
    ``{(db, tbl): [columns_version, ...]}`` where a columns version is a
    list of ``(name, is_unsigned)`` pairs keyed by width."""

    def __init__(self, registry: dict):
        self.registry = registry

    def mysql_table(self, db: str, tbl: str, ncols: int):
        for cols in self.registry.get((db, tbl), []):
            if len(cols) == ncols:
                return cols
        return None

    def knows(self, db: str, tbl: str) -> bool:
        return (db, tbl) in self.registry


def as_table_mapper(registry_or_mapper):
    """Accept either the plain registry dict or a user mapper object.

    The mapper protocol is the analogue of the reference's pluggable
    ``MysqlTableMapper`` (`/root/reference/row_streamer.go:19-21`,
    DESC-backed in `example_test.go:76-98`): ``mysql_table(db, tbl,
    ncols) -> [(col_name, is_unsigned), ...] | None``, called lazily at
    stream time the first time a (table, width) is seen on an executor
    and cached thereafter — the per-tableID cache semantics of
    `row_streamer.go:220-243`, including refresh-on-ALTER (a new width
    triggers a fresh lookup). User mappers must be picklable (they ride
    the broadcast to executors); ``knows`` (optional) distinguishes the
    column-count-mismatch dead-letter from an unknown table."""
    if hasattr(registry_or_mapper, "mysql_table"):
        return registry_or_mapper
    return StaticTableMapper(registry_or_mapper)


_MISS = object()


def build_decode_context(stream_meta: dict, registry: dict):
    """Per-partition decode state, built once from the broadcast payload:
    the stream format, the (file, table_id) → schema-version index with
    its hoisted position-key vectors, the lazily-populated (db, tbl,
    ncols) → column names/signedness cache over the schema provider, and
    a free-form cache dict (columnar group plans, hoisted image
    decoders)."""
    fmt = E.BinlogFormat(checksum_algorithm=stream_meta["checksum_alg"])
    mapper = as_table_mapper(registry)
    name_index: dict = {}
    # intern identical schema payloads across (file, table_id) entries so
    # identity-keyed caches (columnar group plans) collapse to one entry
    # per distinct schema version, not one per binlog file — group width
    # is what the wave decode's vectorization amortizes over
    interned: dict = {}
    tmaps = {}
    for k, vers in stream_meta["table_maps"].items():
        out = []
        for pos, payload in vers:
            db, tbl, types, metadata = payload
            sig = (db, tbl, tuple(types), tuple(metadata))
            out.append((pos, interned.setdefault(sig, payload)))
        tmaps[k] = out
    tmap_keys = {k: [v[0] for v in vers] for k, vers in tmaps.items()}
    # the inline overlay interns the versions it adds in the same table
    return fmt, tmaps, tmap_keys, name_index, mapper, {"interned": interned}


def _resolve_names(name_index, mapper, db, tbl, ncols):
    """Cached schema-provider lookup (negative results cached too).

    Mapper entries are ``(name, is_unsigned)`` or — when the provider
    knows column charsets (e.g. a DESC/information_schema mapper) —
    ``(name, is_unsigned, collation_id)``. Returns ``(names, unsigned,
    collations)`` with ``collations`` None when no entry carries one
    (the byte-transparent default decode, unchanged)."""
    key = (db, tbl, ncols)
    hit = name_index.get(key, _MISS)
    if hit is not _MISS:
        return hit
    cols = mapper.mysql_table(db, tbl, ncols)
    if cols is None:
        hit = None
    else:
        colls = [c[2] if len(c) > 2 else None for c in cols]
        hit = ([c[0] for c in cols], [c[1] for c in cols],
               colls if any(c is not None for c in colls) else None)
    name_index[key] = hit
    return hit


def decode_batch(pdf: pd.DataFrame, ctx, ddl_acc=None,
                 extra_rows=None) -> pd.DataFrame:
    """Decode one Arrow batch of frames → DECODE_OUTPUT_SCHEMA rows.

    The inner loop is the throughput-critical kernel (the Spark analogue
    of the reference's single-threaded ``parseEvents`` loop): rows-event
    images decode through the generated image decoders
    (``events.read_row_maps``) straight into the before/after maps, and
    output rows accumulate as tuples in schema column order — no per-row
    dict construction, no second bytes→str pass. Module-level (not a
    closure) so it is directly profilable and unit-testable."""
    import numpy as np

    fmt, tmaps, tmap_keys, name_index, mapper, _caches = ctx
    files = pdf["file"].tolist()
    positions = pdf["pos"].tolist()
    frames_list = pdf["frame"].tolist()
    n = len(frames_list)
    # header fields + validity for the whole batch in one numpy pass
    # (P7 validity filter and the v4 header parse, vectorized): 19-byte
    # headers stacked into an (n, 19) byte matrix, little-endian uint32
    # fields recovered by a dot with the byte weights
    hdr = np.frombuffer(
        b"".join(f[:19].ljust(19, b"\0") for f in frames_list),
        dtype=np.uint8).reshape(n, 19).astype(np.int64) if n else \
        np.zeros((0, 19), dtype=np.int64)
    w4 = np.array([1, 1 << 8, 1 << 16, 1 << 24], dtype=np.int64)
    lens = np.fromiter((len(f) for f in frames_list), dtype=np.int64,
                       count=n)
    # .tolist(): hand the loop plain Python ints — np.int64 scalars cost
    # ~10x on struct/int.from_bytes/dict-key ops in the per-frame path
    ts_v = (hdr[:, 0:4] @ w4).tolist()
    etype_v = hdr[:, 4].tolist()
    evlen_v = hdr[:, 9:13] @ w4
    next_v = (hdr[:, 13:17] @ w4).tolist()
    valid_v = ((lens >= C.HEADER_LEN) & (evlen_v == lens)).tolist()

    rows = list(extra_rows) if extra_rows else []
    append = rows.append
    for i in range(n):
        file, pos, frame = files[i], positions[i], frames_list[i]
        if not valid_v[i]:  # P7 validity filter
            append(_aux(file, pos, 0, 0, 0, "deadletter",
                        reason="invalid frame"))
            continue
        ts, etype, next_pos = ts_v[i], etype_v[i], next_v[i]
        if etype in (C.E_FORMAT_DESCRIPTION, C.E_ROTATE,
                     C.E_PREVIOUS_GTIDS, C.E_ANONYMOUS_GTID,
                     C.E_GTID_LIST_MARIADB):
            continue  # position/format bookkeeping: carried per-frame
        body = E.strip_checksum(fmt, etype, frame)
        if etype in C.ROWS_EVENT_TYPES:
            table_id = E.parse_table_id(fmt, etype, body)
            key = (file, table_id)
            vers = tmaps.get(key)
            # only a TABLE_MAP at an earlier position resolves the id
            vi = bisect.bisect_right(tmap_keys[key], pos) - 1 if vers else -1
            if vi < 0:
                append(_aux(file, pos, next_pos, ts, None, "deadletter",
                            reason=f"no TABLE_MAP for id {table_id}"))
                continue
            db, tbl, types, metadata = vers[vi][1]
            names_uns = _resolve_names(name_index, mapper, db, tbl,
                                       len(types))
            if names_uns is None:
                known = (mapper.knows(db, tbl)
                         if hasattr(mapper, "knows") else
                         any(k[0] == db and k[1] == tbl and v is not None
                             for k, v in name_index.items()))
                append(_aux(
                    file, pos, next_pos, ts, None, "deadletter",
                    reason=("column count mismatch" if known else
                            f"table {db}.{tbl} not in registry")))
                continue
            names, unsigned, collations = names_uns
            image_rows = E.read_row_maps(fmt, etype, body, types,
                                         metadata, unsigned, names,
                                         collations)
            if image_rows is None:
                append(_aux(file, pos, next_pos, ts, None, "deadletter",
                            reason=E.NO_PRESENT_COLUMNS))
                continue
            if etype in C.WRITE_ROWS_TYPES:
                op = "I"
            elif etype in C.UPDATE_ROWS_TYPES:
                op = "U"
            else:
                op = "D"
            posi, nposi, tsi = int(pos), int(next_pos), int(ts)
            seq = 0
            for before, after in image_rows:
                append((None, None, None, file, posi, nposi, tsi, op, db,
                        tbl, before, after, seq, "change", None, None))
                seq += 1
        elif etype == C.E_GTID:
            gno = E.parse_gtid(body[C.HEADER_LEN:])
            append(_aux(file, pos, next_pos, ts, gno, "gtid"))
        elif etype == C.E_GTID_MARIADB:
            gno = E.parse_gtid_mariadb(body[C.HEADER_LEN:])
            append(_aux(file, pos, next_pos, ts, gno, "gtid"))
        elif etype == C.E_QUERY:
            db, sql = E.parse_query(fmt, body)
            cat = C.statement_category(sql)
            if cat == C.ST_BEGIN:
                append(_aux(file, pos, next_pos, ts, None, "begin"))
            elif cat == C.ST_COMMIT:
                append(_aux(file, pos, next_pos, ts, None, "commit"))
            elif cat == C.ST_ROLLBACK:
                append(_aux(file, pos, next_pos, ts, None, "rollback"))
            elif C.is_ddl(cat):
                append(_aux(file, pos, next_pos, ts, None, "ddl",
                            db=db, sql=sql, reason=cat))
                if ddl_acc is not None:
                    ddl_acc.add([(file, int(pos), int(ts), db, sql, cat)])
            # DML-as-statement / SET: ignored (ROW mode carries data)
        elif etype == C.E_XID:
            append(_aux(file, pos, next_pos, ts, None, "commit"))
        elif etype == C.E_ROWS_QUERY:
            # original-statement side channel (IsRowsQuery, P8)
            append(_aux(file, pos, next_pos, ts, None, "rowsquery",
                        sql=E.parse_rows_query(fmt, body)))
        elif etype in (C.E_INTVAR, C.E_RAND):
            append(_aux(file, pos, next_pos, ts, None, "deadletter",
                        reason=f"unsupported event type {etype}"))
        # unknown event types are skipped, as the reference does
    return pd.DataFrame(rows, columns=_OUT_COLS)


def _broadcast(spark: SparkSession, value, broadcasts: list | None):
    bc = spark.sparkContext.broadcast(value)
    if broadcasts is not None:
        broadcasts.append(bc)
    return bc


def decode_frames(spark: SparkSession, frames: DataFrame, stream_meta: dict,
                  registry: dict, ddl_acc=None,
                  broadcasts: list | None = None) -> DataFrame:
    """Stateless vectorized decode of every frame → DECODE_OUTPUT_SCHEMA.

    ``ddl_acc``: optional CollectionAccumulator; DDL rows are ALSO pushed
    through it so the driver can pick them up from whatever first action
    materializes the decode — fusing the DDL side-channel scan into the
    main pass instead of spending a separate Spark job on it. Consumers
    must dedupe by (file, pos): accumulators re-fire on task retries.

    ``broadcasts``: optional list that gets the broadcast of
    ``(stream_meta, registry)``, for the caller to ``destroy()`` once the
    result is consumed; PySpark keeps each broadcast's pickle in a driver
    temp file until then.

    Runs the columnar cell splitter over ``mapInArrow``
    (operators/colsplit.py — per-column numpy offset vectors,
    Arrow-native map assembly, no per-row Python, NULL cells included); the
    scalar ``decode_batch`` is its fallback and its row-for-row oracle in
    tests/test_colsplit.py.
    """
    from . import colsplit

    bc = _broadcast(spark, (stream_meta, registry), broadcasts)

    def _decode_arrow(batches):
        meta, reg = bc.value
        ctx = build_decode_context(meta, reg)
        for rb in batches:
            yield from colsplit.decode_batch_arrow(rb, ctx, ddl_acc)

    return frames.select("file", "pos", "etype", "frame").mapInArrow(
        _decode_arrow, schema=S.DECODE_OUTPUT_SCHEMA)


def decode_assembled(spark: SparkSession, frames: DataFrame,
                     stream_meta: dict, registry: dict, ddl_acc,
                     report_acc, broadcasts: list | None = None) -> DataFrame:
    """Decode and transaction assembly in one ``mapInArrow`` task per
    partition → committed change rows (CHANGE_SCHEMA).

    ``stream_meta`` indexes the TABLE_MAPs of earlier batches (empty for
    a self-contained batch); each task's overlay resolves the rest from
    its own frames. ``ddl_acc`` as for ``decode_frames``. Each task adds
    one entry ``(partition, [(file, first_pos, last_pos, ok), ...],
    [(file, table_id, pos, schema), ...], [checksum_alg, ...])`` to
    ``report_acc``: its files, as ``transactions.assemble_file_local``
    judged them, and the TABLE_MAP versions and FORMAT_DESCRIPTION
    algorithms its overlay found. A retried or recomputed task adds its
    entry again; consumers keep one per partition. ``broadcasts`` as for
    ``decode_frames``."""
    from pyspark import TaskContext

    from .transactions import assemble_file_local

    bc = _broadcast(spark, (stream_meta, registry), broadcasts)

    def _kernel(batches):
        meta, reg = bc.value
        ctx = build_decode_context(meta, reg)
        files: dict = {}
        yield from assemble_file_local(batches, ctx, ddl_acc, files)
        caches = ctx[5]
        report_acc.add([(
            TaskContext.get().partitionId(),
            [(f, st[0], st[1], st[2]) for f, st in files.items()],
            caches.get("found_tmaps", []), caches.get("found_algs", []))])

    return frames.select("file", "pos", "etype", "frame").mapInArrow(
        _kernel, schema=S.CHANGE_SCHEMA)


def _aux(file, pos, next_pos, ts, gtid, kind, db=None, sql=None, reason=None):
    # tuple in _OUT_COLS order: (gtid_seq, txn_id, seq_in_txn, file, pos,
    # next_pos, ts, op, db, tbl, before, after, seq_in_event, kind, sql,
    # reason)
    return (gtid, None, None, file, int(pos), int(next_pos), int(ts), None,
            db, None, None, None, None, kind, sql, reason)

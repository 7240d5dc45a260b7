"""File-local transaction assembly against the window path.

``decode_assembled`` decodes and assembles each partition's frames in one
task; ``assemble_transactions`` over ``decode_frames`` is the window
formulation it replaces on whole-file layouts. Each hand-built frame
stream below runs through both, and the committed change rows must be
identical. The streams cover every outcome of the BEGIN/XID/ROLLBACK
state machine, file boundaries inside one partition, and a transaction
that spans many Arrow batches.
"""

import struct

import pytest

from binlog_spark import pipeline
from binlog_spark.operators.decode import (
    decode_assembled,
    decode_frames,
    discover_stream_meta,
)
from binlog_spark.operators.merge import LakeTable
from binlog_spark.operators.transactions import assemble_transactions
from binlog_spark.schema import FRAME_SCHEMA
from binlog_spark.wire import constants as C
from binlog_spark.wire import events as E

SPEC = E.TableMapSpec(database="d1", name="t1", columns=[
    ("id", C.TYPE_LONG, 0, False), ("v", C.TYPE_VARCHAR, 64, False)])
REGISTRY = {("d1", "t1"): [[("id", False), ("v", False)]]}


def _file(name, events):
    """One binlog file's frames: FORMAT_DESCRIPTION, then per event
    ``("gtid", gno)``, ``("q", "BEGIN" | "ROLLBACK")``, ``("xid",)`` or
    ``("rows", ids)`` (a TABLE_MAP and a WRITE_ROWS event of those ids)."""
    fmt = E.BinlogFormat()
    frames, pos = [], 4

    def emit(etype, payload):
        nonlocal pos
        frame = bytearray(E.packetize(fmt, etype, 0, payload,
                                      timestamp=1700000000, server_id=1,
                                      log_position=0))
        struct.pack_into("<I", frame, 13, pos + len(frame))
        frames.append((name, pos, etype, E.apply_crc32(bytes(frame))))
        pos += len(frame)

    emit(C.E_FORMAT_DESCRIPTION, E.make_format_description(fmt))
    for ev in events:
        if ev[0] == "gtid":
            emit(C.E_GTID, E.make_gtid(ev[1]))
        elif ev[0] == "q":
            emit(C.E_QUERY, E.make_query("d1", ev[1]))
        elif ev[0] == "xid":
            emit(C.E_XID, E.make_xid(0))
        else:
            emit(C.E_TABLE_MAP, E.make_table_map(SPEC, 77))
            emit(C.E_WRITE_ROWS_V2, E.make_rows_event(
                SPEC, 77, C.E_WRITE_ROWS_V2,
                [(None, {"id": str(i), "v": f"r{i}"}) for i in ev[1]]))
    return frames


def _txn(gno, *ids, end="xid"):
    """A BEGIN group: one rows event per id list, then ``end`` (an XID,
    a ROLLBACK or nothing)."""
    evs = [("gtid", gno), ("q", "BEGIN")] + [("rows", i) for i in ids]
    if end == "xid":
        evs.append(("xid",))
    elif end == "rollback":
        evs.append(("q", "ROLLBACK"))
    return evs


def _norm(rows):
    return sorted(
        (r["gtid_seq"], r["txn_id"], r["seq_in_txn"], r["file"], r["pos"],
         r["op"], tuple(sorted((r["after"] or {}).items())))
        for r in rows)


def _both(spark, frames):
    """(file-local rows, window rows, files the file-local pass reported
    irregular) for ``frames`` in one partition, in list order."""
    df = spark.createDataFrame(frames, FRAME_SCHEMA).coalesce(1)
    sc = spark.sparkContext
    ddl = sc.accumulator([], pipeline._DdlAccum())
    report = sc.accumulator([], pipeline._DdlAccum())
    empty = {"checksum_alg": C.CHECKSUM_ALG_CRC32, "table_maps": {}}
    local = decode_assembled(spark, df, empty, REGISTRY, ddl,
                             report).collect()
    window = assemble_transactions(decode_frames(
        spark, df, discover_stream_meta(df), REGISTRY)).collect()
    irregular, _found = pipeline._read_report(report.value)
    return _norm(local), _norm(window), irregular


CASES = {
    "rolled_back_group": _file("binlog.000001", (
        _txn(1, [1, 2], end="rollback") + _txn(2, [3])
        + _txn(3, [4], [5], end="rollback")
        # no BEGIN: the ROLLBACK alone drops it
        + [("gtid", 4), ("rows", [6]), ("q", "ROLLBACK")] + _txn(5, [7]))),
    "begin_group_open_at_eof": _file("binlog.000001", (
        _txn(1, [1]) + _txn(2, [2, 3], [4], end=None))),
    "autocommit_group": _file("binlog.000001", (
        [("gtid", 1), ("rows", [1, 2])] + _txn(2, [3])
        + [("gtid", 3), ("rows", [4]), ("rows", [5])])),
    "rows_before_first_gtid": _file("binlog.000001", (
        [("rows", [9]), ("q", "BEGIN"), ("rows", [8]), ("xid",)]
        + _txn(1, [1]))),
    "two_files_reverse_name_order": (
        _file("binlog.000002", _txn(7, [1]) + [("gtid", 8), ("rows", [2])])
        + _file("binlog.000001", [("rows", [3])] + _txn(1, [4])
                + _txn(2, [5], end=None))),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_file_local_equals_window_path(spark, case):
    local, window, irregular = _both(spark, CASES[case])
    assert irregular == []
    assert window, "the stream commits some rows"
    assert local == window


def test_transaction_spanning_many_arrow_batches(spark):
    """Seven frames per Arrow batch: the long groups stay open across
    many batches, carried with their flags and their rows, and each
    closes on the right outcome — also where a batch holds the end of
    one file and the start of a file that sorts before it."""
    frames = _file("binlog.000002", _txn(9, *[[i] for i in range(500, 506)])
                   ) + _file("binlog.000001", (
        _txn(1, *[[i, i + 100] for i in range(12)])
        + _txn(2, *[[i] for i in range(200, 210)], end="rollback")
        + [("gtid", 3)] + [("rows", [i]) for i in range(300, 309)]
        + _txn(4, *[[i] for i in range(400, 408)], end=None)))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        local, window, irregular = _both(spark, frames)
    finally:
        spark.conf.set(key, before)
    assert irregular == []
    assert len(window) == 6 + 24 + 9
    assert local == window


def test_repeated_gtid_falls_back(spark, tmp_path):
    """A GTID that repeats within a file is one group to the window path
    but two to a forward pass: the file is reported irregular, and the
    replay re-assembles it on the window path."""
    frames = _file("binlog.000001", _txn(5, [1]) + _txn(5, [2], [3])
                   + _txn(6, [4]))
    local, window, irregular = _both(spark, frames)
    assert irregular == ["binlog.000001"]
    assert [r[2] for r in window if r[0] == 5] == [0, 1, 2]
    assert local != window

    lake = LakeTable.create(spark, str(tmp_path / "lake"), columns=["id", "v"],
                            key_cols=["id"], n_buckets=2)
    df = spark.createDataFrame(frames, FRAME_SCHEMA).coalesce(1)
    stats = pipeline.replay_batch(spark, df, lake, REGISTRY, batch_id=0)
    assert stats["fallback_files"] == 1
    assert stats["n_changes"] == len(window) == 4
    assert sorted(r["id"] for r in lake.to_df().collect()) == [
        "1", "2", "3", "4"]

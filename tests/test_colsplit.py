"""Columnar cell splitter vs the cell-by-cell decode oracle
(tests/decode_oracle.py): row-for-row equality on worlds exercising
schema evolution, NULL cells, minimal row images, non-UTF8 bytes, exotic
cell types, wide tables, and corrupt rows frames that must become dead
letters."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

import os
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binlog_spark import genlog  # noqa: E402
from binlog_spark.operators import colsplit as CS  # noqa: E402
from binlog_spark.operators import decode as D  # noqa: E402
from binlog_spark.wire import constants as C  # noqa: E402
from binlog_spark.wire import events as E  # noqa: E402
from tests.decode_oracle import decode_oracle  # noqa: E402


def make_meta(frames):
    fmt = E.BinlogFormat()
    index, checksum = {}, None
    for f, p, et, fr in frames:
        if et == C.E_FORMAT_DESCRIPTION:
            checksum = E.parse_format_description(fr).checksum_algorithm
            fmt.checksum_algorithm = checksum
        elif et == C.E_TABLE_MAP:
            tm = E.parse_table_map(fmt, E.strip_checksum(fmt, et, fr))
            key = (f, tm.table_id)
            sig = (tm.database, tm.name, tuple(tm.types), tuple(tm.metadata))
            lst = index.setdefault(key, [])
            if not any(s == sig for _, s in lst):
                lst.append((p, sig))
    return {
        "checksum_alg": checksum,
        "table_maps": {
            k: [(p, (s[0], s[1], list(s[2]), list(s[3]))) for p, s in v]
            for k, v in index.items()
        },
    }


def to_batch(frames):
    return pa.RecordBatch.from_arrays(
        [
            pa.array([f for f, _, _, _ in frames]),
            pa.array([p for _, p, _, _ in frames], pa.int64()),
            pa.array([et for _, _, et, _ in frames], pa.int32()),
            pa.array([fr for _, _, _, fr in frames], pa.binary()),
        ],
        names=["file", "pos", "etype", "frame"],
    )


def norm(df):
    rows = []
    for r in df.itertuples(index=False):
        t = list(r)
        for j in (10, 11):  # before/after maps: dict or list-of-pairs
            if isinstance(t[j], dict):
                t[j] = tuple(sorted(t[j].items()))
            elif isinstance(t[j], list):
                t[j] = tuple(sorted(t[j]))
        t = [None if (isinstance(x, float) and np.isnan(x)) else x for x in t]
        rows.append(tuple(t))
    return sorted(rows, key=str)


def cross_check(frames, registry):
    meta = make_meta(frames)
    pdf = pd.DataFrame(
        {
            "file": [f for f, _, _, _ in frames],
            "pos": [p for _, p, _, _ in frames],
            "etype": [et for _, _, et, _ in frames],
            "frame": [fr for _, _, _, fr in frames],
        }
    )
    ref = decode_oracle(pdf, D.build_decode_context(meta, registry))
    outs = list(
        CS.decode_batch_arrow(to_batch(frames),
                              D.build_decode_context(meta, registry)))
    if outs:
        got = pd.concat([rb.to_pandas() for rb in outs], ignore_index=True)
    else:
        got = pd.DataFrame(columns=ref.columns)
    assert len(ref) == len(got)
    assert norm(ref) == norm(got)
    return ref, got


def test_flagship_world_with_evolution_matches_scalar_kernel():
    gen = genlog.CdcWorldGenerator(seed=7, n_repos=30, paths_per_repo=10,
                                   txns_per_file=80, evolve_at_txn=150)
    res = gen.generate(n_txns=400)
    ref, got = cross_check(res.frames, genlog.table_registry())
    assert (ref["kind"] == "change").sum() == len(res.changes)


def test_small_batches_match_scalar_kernel():
    """Group/plan caches persist across batches; per-batch state resets."""
    gen = genlog.CdcWorldGenerator(seed=3, n_repos=10, paths_per_repo=5,
                                   txns_per_file=40)
    res = gen.generate(n_txns=120)
    meta = make_meta(res.frames)
    ctx = D.build_decode_context(meta, genlog.table_registry())
    outs = []
    for lo in range(0, len(res.frames), 97):  # uneven batch boundaries
        outs.extend(CS.decode_batch_arrow(
            to_batch(res.frames[lo:lo + 97]), ctx))
    got = pd.concat([rb.to_pandas() for rb in outs], ignore_index=True)
    pdf = pd.DataFrame(
        {
            "file": [f for f, _, _, _ in res.frames],
            "pos": [p for _, p, _, _ in res.frames],
            "etype": [et for _, _, et, _ in res.frames],
            "frame": [fr for _, _, _, fr in res.frames],
        }
    )
    ref = decode_oracle(pdf,
                        D.build_decode_context(meta, genlog.table_registry()))
    assert norm(ref) == norm(got)


def _custom_world(columns, rows_events, table="t1", db="d1",
                  checksum_alg=C.CHECKSUM_ALG_CRC32):
    """Hand-built frame stream: FORMAT_DESCRIPTION + per-event
    TABLE_MAP/GTID/ROWS for a custom schema."""
    fmt = E.BinlogFormat(checksum_algorithm=checksum_alg)
    spec = E.TableMapSpec(database=db, name=table, columns=columns)
    frames = []
    pos = 4

    def emit(etype, payload, ts=1700000000):
        nonlocal pos
        frame = E.packetize(fmt, etype, 0, payload, timestamp=ts,
                            server_id=1, log_position=0)
        import struct

        frame = bytearray(frame)
        struct.pack_into("<I", frame, 13, (pos + len(frame)) & 0xFFFFFFFF)
        frames.append(("binlog.000000", pos, etype, bytes(frame)))
        pos += len(frame)

    emit(C.E_FORMAT_DESCRIPTION, E.make_format_description(fmt))
    g = 0
    for etype, rows in rows_events:
        g += 1
        emit(C.E_GTID, E.make_gtid(g))
        emit(C.E_QUERY, E.make_query(db, "BEGIN"))
        emit(C.E_TABLE_MAP, E.make_table_map(spec, 77))
        emit(etype, E.make_rows_event(spec, 77, etype, rows))
        emit(C.E_XID, E.make_xid(g))
    registry = {(db, table): [[(n, u) for n, _, _, u in columns]]}
    return frames, registry


def wave_rows(frames, registry, monkeypatch):
    """Rows each ``decode_group`` call yields when ``frames`` decode as
    one batch (a call that raises yields none)."""
    counts = []
    decode_group = CS.decode_group

    def spy(*args):
        rb = decode_group(*args)
        counts.append(0 if rb is None else rb.num_rows)
        return rb

    monkeypatch.setattr(CS, "decode_group", spy)
    ctx = D.build_decode_context(make_meta(frames), registry)
    list(CS.decode_batch_arrow(to_batch(frames), ctx))
    return counts


def test_null_cells_decode_in_the_wave_exactly(monkeypatch):
    cols = [("id", C.TYPE_LONG, 0, False),
            ("name", C.TYPE_VARCHAR, 80, False),
            ("num", C.TYPE_LONGLONG, 0, True)]
    rows = [(None, {"id": "1", "name": "alice", "num": "42"}),
            (None, {"id": "2", "name": None, "num": "7"}),   # SQL NULL
            (None, {"id": "3", "name": "carol", "num": str(2**63 + 9)}),
            (None, {"id": "4", "name": None, "num": None}),
            (None, {"id": "5", "name": "eve", "num": "0"})]
    frames, registry = _custom_world(
        cols, [(C.E_WRITE_ROWS_V2, rows)])
    ref, got = cross_check(frames, registry)
    ch = ref[ref["kind"] == "change"]
    assert len(ch) == 5
    # NULL cells survive with None values in the map
    maps = {dict(m if not isinstance(m, dict) else m)["id"]:
            dict(m if not isinstance(m, dict) else m)
            for m in ch["after"]}
    assert maps["2"]["name"] is None
    assert maps["3"]["num"] == str(2**63 + 9)  # unsigned 64-bit range
    # every row, NULL rows included, comes out of the one columnar batch
    assert wave_rows(frames, registry, monkeypatch) == [5]


def test_null_cell_ending_the_batch_buffer_decodes_in_the_wave(monkeypatch):
    """Checksum off and the trailing XID left out: the rows frame ends the
    batch buffer, and its last cell is NULL — the zero-width cell sits at
    the buffer's end and must not read past it."""
    cols = [("id", C.TYPE_LONG, 0, False),
            ("name", C.TYPE_VARCHAR, 80, False)]
    rows = [(None, {"id": "1", "name": "a"}),
            (None, {"id": "2", "name": None})]
    frames, registry = _custom_world(
        cols, [(C.E_WRITE_ROWS_V2, rows)], checksum_alg=0)
    frames = frames[:-1]
    assert frames[-1][2] == C.E_WRITE_ROWS_V2
    ref, got = cross_check(frames, registry)
    assert (ref["kind"] == "change").sum() == 2
    assert wave_rows(frames, registry, monkeypatch) == [2]


def test_wide_table_update_with_nulls_decodes_in_the_wave(monkeypatch):
    """70 present columns: a 9-byte null bitmap per image."""
    cols = [(f"c{i}", C.TYPE_LONG if i % 2 else C.TYPE_VARCHAR,
             0 if i % 2 else 300, False) for i in range(70)]

    def image(r):
        return {f"c{i}": (None if (i + r) % 7 == 0 else str(i * 31 - r))
                for i in range(70)}

    rows = [(image(r), image(r + 3)) for r in range(4)]
    frames, registry = _custom_world(cols, [(C.E_UPDATE_ROWS_V2, rows)])
    ref, got = cross_check(frames, registry)
    ch = ref[ref["kind"] == "change"]
    assert len(ch) == 4
    assert dict(ch["after"].iloc[0])["c4"] is None
    assert wave_rows(frames, registry, monkeypatch) == [4]


def _relaid(frames):
    """``frames`` at consecutive positions from 4, next_pos patched."""
    out, pos = [], 4
    for f, _, et, fr in frames:
        fr = bytearray(fr)
        struct.pack_into("<I", fr, 13, pos + len(fr))
        out.append((f, pos, et, bytes(fr)))
        pos += len(fr)
    return out


def test_rows_event_before_its_table_map_is_a_dead_letter():
    """Only a TABLE_MAP already read resolves a rows event's table id
    (`row_streamer.go:220-243`): a WRITE_ROWS ahead of its TABLE_MAP is
    a dead letter in both kernels, not decoded under the later map."""
    cols = [("id", C.TYPE_LONG, 0, False)]
    frames, registry = _custom_world(
        cols, [(C.E_WRITE_ROWS_V2, [(None, {"id": "1"})])])
    # FD, GTID, BEGIN, WRITE_ROWS, TABLE_MAP, XID — re-laid at new positions
    swapped = _relaid([frames[i] for i in [0, 1, 2, 4, 3, 5]])
    assert [et for _, _, et, _ in swapped][3:5] == [
        C.E_WRITE_ROWS_V2, C.E_TABLE_MAP]
    ref, got = cross_check(swapped, registry)
    assert (ref["kind"] == "change").sum() == 0
    dead = ref[ref["kind"] == "deadletter"]
    assert dead["reason"].tolist() == ["no TABLE_MAP for id 77"]
    assert dead["pos"].tolist() == [swapped[3][1]]


def test_rows_event_with_no_present_columns_is_a_dead_letter():
    """Every column bitmap 0 but row bytes after it: each image is zero
    bytes wide, so neither kernel can advance through the body. Both
    dead-letter the frame instead of looping (the alarm turns a hang into
    a failure)."""
    import signal

    cols = [("id", C.TYPE_LONG, 0, False)]
    rows = [(None, {"id": str(v)}) for v in (1, 2, 3)]
    frames, registry = _custom_world(
        cols, [(C.E_WRITE_ROWS_V2, rows)], checksum_alg=0)
    k = [et for _, _, et, _ in frames].index(C.E_WRITE_ROWS_V2)
    f, p, et, fr = frames[k]
    # header 19 + table id 6 + flags 2 + extra-data 2 + column count 1
    bitmap_at = C.HEADER_LEN + 6 + 2 + 2 + 1
    assert fr[bitmap_at] == 1
    fr = bytearray(fr)
    fr[bitmap_at] = 0
    frames[k] = (f, p, et, bytes(fr))

    def timeout(signum, frame):
        raise TimeoutError("decode did not end")

    old = signal.signal(signal.SIGALRM, timeout)
    signal.alarm(10)
    try:
        ref, got = cross_check(frames, registry)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
    assert (ref["kind"] == "change").sum() == 0
    dead = ref[ref["kind"] == "deadletter"]
    assert dead["reason"].tolist() == ["rows event with no present columns"]
    assert dead["pos"].tolist() == [p]


def test_minimal_update_and_delete_images_match():
    cols = [("id", C.TYPE_LONG, 0, False),
            ("body", C.TYPE_BLOB, 2, False)]
    events = [
        (C.E_WRITE_ROWS_V2, [(None, {"id": "1", "body": "x" * 300})]),
        (C.E_UPDATE_ROWS_V2, [({"id": "1"}, {"body": "y" * 5})]),
        (C.E_DELETE_ROWS_V2, [({"id": "1"}, None)]),
    ]
    frames, registry = _custom_world(cols, events)
    ref, got = cross_check(frames, registry)
    ops = ref[ref["kind"] == "change"]["op"].tolist()
    assert ops == ["I", "U", "D"]


def test_non_utf8_blob_falls_back_to_latin1_losslessly():
    cols = [("id", C.TYPE_LONG, 0, False),
            ("raw", C.TYPE_BLOB, 2, False)]
    bad = b"ok\xff\xfe\x00bytes".decode("latin-1")
    frames, registry = _custom_world(
        cols, [(C.E_WRITE_ROWS_V2,
                [(None, {"id": "1", "raw": bad}),
                 (None, {"id": "2", "raw": "plain"})])])
    ref, got = cross_check(frames, registry)
    ch = ref[ref["kind"] == "change"]
    vals = {dict(m)["id"]: dict(m)["raw"] for m in ch["after"]}
    assert vals["1"] == bad  # byte-transparent round trip
    assert vals["2"] == "plain"


def test_exotic_types_decode_in_the_wave(monkeypatch):
    cols = [("id", C.TYPE_LONG, 0, False),
            ("price", C.TYPE_NEWDECIMAL, (12 << 8) | 4, False),
            ("seen", C.TYPE_DATETIME2, 0, False)]
    frames, registry = _custom_world(
        cols, [(C.E_WRITE_ROWS_V2,
                [(None, {"id": "1", "price": "-1234.5678",
                         "seen": "2024-02-29 23:59:59"})])])
    ref, got = cross_check(frames, registry)
    ch = got[got["kind"] == "change"]
    assert dict(ch["after"].iloc[0])["price"] == "-1234.5678"
    assert wave_rows(frames, registry, monkeypatch) == [1]


def test_inline_discovery_checksumless_stream_sizes_bodies_right():
    """r3 ADVICE regression: the per-batch checksum width must follow the
    FORMAT_DESCRIPTION overlay, not the batch-entry value. A checksum-less
    stream decoded with an empty index (whose meta assumes
    checksum_alg=1 until the FD frame corrects it) used to mis-size every
    ROWS body by 4 bytes — silently dropping a tiny final row or
    wave-decoding garbage from the missing-CRC slot."""
    cols = [("id", C.TYPE_LONG, 0, False)]  # 5-byte row images (nb=1 + 4)
    rows = [(None, {"id": str(v)}) for v in (11, 22, 33)]
    frames, registry = _custom_world(
        cols, [(C.E_WRITE_ROWS_V2, rows)], checksum_alg=0)
    # the self-contained batch's index: empty table_maps + assumed CRC32 until
    # the stream's own FORMAT_DESCRIPTION says otherwise
    ctx = D.build_decode_context(
        {"checksum_alg": C.CHECKSUM_ALG_CRC32, "table_maps": {}}, registry)
    outs = list(CS.decode_batch_arrow(to_batch(frames), ctx))
    got = pd.concat([rb.to_pandas() for rb in outs], ignore_index=True)
    ch = got[got["kind"] == "change"]
    assert sorted(dict(m)["id"] for m in ch["after"]) == ["11", "22", "33"]
    assert sorted(ch["seq_in_event"].tolist()) == [0, 1, 2]
    # and the full stream matches the oracle run with correct meta
    pdf = pd.DataFrame(
        {"file": [f for f, _, _, _ in frames],
         "pos": [p for _, p, _, _ in frames],
         "etype": [et for _, _, et, _ in frames],
         "frame": [fr for _, _, _, fr in frames]})
    ref = decode_oracle(pdf, D.build_decode_context(make_meta(frames),
                                                    registry))
    assert norm(ref) == norm(got)


def _patched(frames, old: bytes, at_old, value: int):
    """``frames`` with the byte ``at_old`` places after the first ``old``
    of the one rows frame holding it set to ``value``."""
    out = []
    for f, p, et, fr in frames:
        if et in C.ROWS_EVENT_TYPES and old in fr:
            buf = bytearray(fr)
            buf[fr.index(old) + at_old] = value
            fr = bytes(buf)
        out.append((f, p, et, fr))
    return out


def test_wave_overrun_dead_letters_the_frame(monkeypatch):
    """Pin the wave-kernel bounds check (r4 VERDICT directive 6): a
    corrupt interior length byte that drives the wave cursor past the
    rows-event body makes that frame a dead letter instead of a row
    with a truncated cell, and the intact frames of the same group still
    decode in the wave."""
    cols = [("id", C.TYPE_LONG, 0, False),
            ("name", C.TYPE_VARCHAR, 80, False)]
    good = [(None, {"id": "1", "name": "aaa"}),
            (None, {"id": "2", "name": "bbb"})]
    bad = [(None, {"id": "3", "name": "zz9"})]
    frames, registry = _custom_world(
        cols, [(C.E_WRITE_ROWS_V2, good), (C.E_WRITE_ROWS_V2, bad)])
    # inflate the last row's VARCHAR length prefix (the byte before the
    # unique payload) far past the remaining body
    patched = _patched(frames, b"zz9", -1, 250)
    bad_pos = [p for (_, p, _, fr), (_, _, _, orig) in zip(patched, frames)
               if fr != orig]
    ref, got = cross_check(patched, registry)
    dead = got[got["kind"] == "deadletter"]
    assert dead["reason"].tolist() == ["rows event overruns its body"]
    assert dead["pos"].tolist() == bad_pos
    ch = got[got["kind"] == "change"]
    assert bad_pos[0] not in ch["pos"].tolist()
    assert sorted(dict(m)["name"] for m in ch["after"]) == ["aaa", "bbb"]
    assert wave_rows(patched, registry, monkeypatch) == [2]


def test_rows_event_wider_than_its_table_map_is_a_dead_letter():
    """A 3-column WRITE_ROWS under a 2-column TABLE_MAP of the same id:
    the column counts disagree, so the frame is a dead letter, even
    though the schema provider knows the 2-column width."""
    cols = [("id", C.TYPE_LONG, 0, False),
            ("name", C.TYPE_VARCHAR, 80, False),
            ("n", C.TYPE_LONG, 0, False)]
    frames, registry = _custom_world(
        cols, [(C.E_WRITE_ROWS_V2, [(None, {"id": "1", "name": "a",
                                            "n": "2"})])])
    narrow = E.TableMapSpec(database="d1", name="t1", columns=cols[:2])
    k = [et for _, _, et, _ in frames].index(C.E_TABLE_MAP)
    f, p, et, _ = frames[k]
    frames[k] = (f, p, et, E.packetize(
        E.BinlogFormat(), et, 0, E.make_table_map(narrow, 77),
        timestamp=1700000000, server_id=1, log_position=0))
    frames = _relaid(frames)
    registry[("d1", "t1")].insert(0, [(n, u) for n, _, _, u in cols[:2]])
    ref, got = cross_check(frames, registry)
    assert (got["kind"] == "change").sum() == 0
    dead = got[got["kind"] == "deadletter"]
    assert dead["reason"].tolist() == ["column count mismatch"]
    assert dead["pos"].tolist() == [
        p for _, p, et, _ in frames if et == C.E_WRITE_ROWS_V2]


def test_refused_json_cell_dead_letters_its_frame(monkeypatch):
    """A JSON document with an unknown type byte: ``cell_bytes`` refuses
    it, so its frame is a dead letter carrying the decoder's message,
    and the intact frame of the same group decodes in the wave."""
    cols = [("id", C.TYPE_LONG, 0, False),
            ("doc", C.TYPE_JSON, 4, False)]
    frames, registry = _custom_world(
        cols, [(C.E_WRITE_ROWS_V2, [(None, {"id": "1", "doc": '"ok"'})]),
               (C.E_WRITE_ROWS_V2, [(None, {"id": "2", "doc": '"zq"'})])])
    # the JSONB string value is type byte 0x0c, length 2, then the text
    patched = _patched(frames, b"\x0c\x02zq", 0, 0x0E)
    bad_pos = [p for (_, p, _, fr), (_, _, _, orig) in zip(patched, frames)
               if fr != orig]
    ref, got = cross_check(patched, registry)
    dead = got[got["kind"] == "deadletter"]
    assert dead["reason"].tolist() == ["jsonb: unknown type byte 0xe"]
    assert dead["pos"].tolist() == bad_pos
    ch = got[got["kind"] == "change"]
    assert [dict(m) for m in ch["after"]] == [{"id": "1", "doc": '"ok"'}]
    assert wave_rows(patched, registry, monkeypatch) == [1]


def test_table_of_130_columns_decodes_in_the_wave(monkeypatch):
    """A column count of 128 or more must read as unsigned off the batch
    buffer (a signed byte made it negative)."""
    cols = [(f"c{i}", C.TYPE_LONG, 0, False) for i in range(130)]
    rows = [(None, {f"c{i}": (None if (i + r) % 9 == 0 else str(i - r))
                    for i in range(130)}) for r in range(3)]
    frames, registry = _custom_world(cols, [(C.E_WRITE_ROWS_V2, rows)])
    ref, got = cross_check(frames, registry)
    ch = got[got["kind"] == "change"]
    assert len(ch) == 3
    assert dict(ch["after"].iloc[0])["c0"] is None
    assert wave_rows(frames, registry, monkeypatch) == [3]


def test_wide_table_int_matrix():
    """>8 present columns exercises the multi-byte null bitmap path."""
    cols = [(f"c{i}", C.TYPE_LONG, 0, False) for i in range(12)]
    row1 = {f"c{i}": str(i * 1000 - 5) for i in range(12)}
    row2 = {f"c{i}": (None if i % 3 == 0 else str(-i)) for i in range(12)}
    frames, registry = _custom_world(
        cols, [(C.E_WRITE_ROWS_V2, [(None, row1), (None, row2)])])
    ref, got = cross_check(frames, registry)
    assert (ref["kind"] == "change").sum() == 2


# decode_frames has one engine, Arrow; the id names it
@pytest.mark.parametrize("engine", ["arrow"])
def test_decode_frames_engines_agree_in_spark(spark, engine):
    gen = genlog.CdcWorldGenerator(seed=5, n_repos=10, paths_per_repo=6,
                                   txns_per_file=50)
    res = gen.generate(n_txns=150)
    from binlog_spark.schema import FRAME_SCHEMA

    df = spark.createDataFrame(res.frames, FRAME_SCHEMA).repartition(4)
    meta = make_meta(res.frames)
    out = D.decode_frames(spark, df, meta, genlog.table_registry())
    ch = out.where(out.kind == "change")
    assert ch.count() == len(res.changes)
    got = {(r["file"], r["pos"], r["seq_in_event"]):
           (r["op"], dict(r["after"] or {}))
           for r in ch.collect()}
    want = {}
    seqs = {}
    for c in res.changes:
        k = (c["file"], c["pos"])
        s = seqs.get(k, 0)
        seqs[k] = s + 1
        want[(c["file"], c["pos"], s)] = (c["op"], dict(c["after"] or {}))
    assert got == want

"""Construct→parse round-trip tests for the wire layer.

Mirrors the reference's event-factory round-trip suite
(`/root/reference/replication/binlog_event_make_test.go:80-387`) and its
pipeline fixture (`row_streamer_test.go:53-152` — e.g. LE bytes
0x10,0x20,0x30,0x40 decode to "1076895760").
"""

import struct

from binlog_spark.wire import constants as C
from binlog_spark.wire import events as E

FMT = E.BinlogFormat()


def pk(typ, data, log_pos=4, ts=1407805592):
    return E.packetize(FMT, typ, 0, data, timestamp=ts, server_id=1,
                       log_position=log_pos)


VT_A = E.TableMapSpec(
    database="vt_test_keyspace",
    name="vt_a",
    columns=[
        ("id", C.TYPE_LONG, 0, False),
        ("message", C.TYPE_VARCHAR, 256 * 3, False),
    ],
    key_cols=("id",),
)


def test_header_and_validity():
    buf = pk(C.E_XID, E.make_xid(7))
    assert E.is_valid_frame(buf)
    ts, typ, sid, length, next_pos, flags = E.parse_header(buf)
    assert (ts, typ, sid, length) == (1407805592, C.E_XID, 1, len(buf))
    assert not E.is_valid_frame(buf[:10])
    assert not E.is_valid_frame(buf + b"\x00")  # self-declared length mismatch


def test_format_description_roundtrip():
    buf = pk(C.E_FORMAT_DESCRIPTION, E.make_format_description(FMT))
    f = E.parse_format_description(buf)
    assert f.format_version == 4
    assert f.server_version == C.MYSQL56_SERVER_VERSION
    assert f.header_length == 19
    assert f.checksum_algorithm == C.CHECKSUM_ALG_CRC32
    assert f.header_sizes == C.MYSQL56_HEADER_SIZES
    assert f.header_size(C.E_TABLE_MAP) == 8


def test_rotate_roundtrip():
    buf = pk(C.E_ROTATE, E.make_rotate(456, "mysql-bin.000123"))
    body = E.strip_checksum(FMT, C.E_ROTATE, buf)
    fname, pos = E.parse_rotate(FMT, body)
    assert (fname, pos) == ("mysql-bin.000123", 456)


def test_query_roundtrip():
    buf = pk(C.E_QUERY, E.make_query("my_db", "INSERT INTO t VALUES (1)"))
    body = E.strip_checksum(FMT, C.E_QUERY, buf)
    db, sql = E.parse_query(FMT, body)
    assert (db, sql) == ("my_db", "INSERT INTO t VALUES (1)")
    assert C.statement_category(sql) == C.ST_INSERT
    assert C.statement_category("begin") == C.ST_BEGIN
    assert C.is_ddl(C.statement_category("ALTER TABLE t ADD COLUMN c INT"))


def test_gtid_roundtrip():
    buf = pk(C.E_GTID, E.make_gtid(424242))
    body = E.strip_checksum(FMT, C.E_GTID, buf)
    assert E.parse_gtid(body[C.HEADER_LEN:]) == 424242


def test_table_map_roundtrip():
    buf = pk(C.E_TABLE_MAP, E.make_table_map(VT_A, table_id=0x102030405060))
    body = E.strip_checksum(FMT, C.E_TABLE_MAP, buf)
    tm = E.parse_table_map(FMT, body)
    assert tm.table_id == 0x102030405060
    assert (tm.database, tm.name) == ("vt_test_keyspace", "vt_a")
    assert tm.types == [C.TYPE_LONG, C.TYPE_VARCHAR]
    assert tm.metadata == [0, 768]


def _rows(buf, typ):
    body = E.strip_checksum(FMT, typ, buf)
    return E.read_row_maps(FMT, typ, body, VT_A.types, VT_A.metadata,
                           VT_A.unsigned, VT_A.col_names)


def test_write_rows_roundtrip():
    # same logical row as the reference pipeline test: id bytes
    # 0x10,0x20,0x30,0x40 (LE) == 1076895760, message "abcd"
    payload = E.make_rows_event(
        VT_A, 15, C.E_WRITE_ROWS_V2,
        rows=[(None, {"id": "1076895760", "message": "abcd"})],
    )
    rows = _rows(pk(C.E_WRITE_ROWS_V2, payload), C.E_WRITE_ROWS_V2)
    assert len(rows) == 1
    ident, data = rows[0]
    assert ident is None
    assert data == {"id": "1076895760", "message": "abcd"}


def test_update_rows_roundtrip_with_null_and_minimal_image():
    payload = E.make_rows_event(
        VT_A, 15, C.E_UPDATE_ROWS_V2,
        rows=[
            ({"id": "1076895760"}, {"id": "1076895760", "message": None}),
            ({"id": "5"}, {"id": "5", "message": "new"}),
        ],
    )
    rows = _rows(pk(C.E_UPDATE_ROWS_V2, payload), C.E_UPDATE_ROWS_V2)
    assert len(rows) == 2
    ident0, data0 = rows[0]
    assert ident0 == {"id": "1076895760"}  # message absent
    assert data0 == {"id": "1076895760", "message": None}  # explicit NULL
    ident1, data1 = rows[1]
    assert ident1 == {"id": "5"}
    assert data1 == {"id": "5", "message": "new"}


def test_delete_rows_roundtrip():
    payload = E.make_rows_event(
        VT_A, 15, C.E_DELETE_ROWS_V2,
        rows=[({"id": "1076895760", "message": "abcd"}, None)],
    )
    rows = _rows(pk(C.E_DELETE_ROWS_V2, payload), C.E_DELETE_ROWS_V2)
    assert rows == [({"id": "1076895760", "message": "abcd"}, None)]


def test_multirow_write_blob_and_unsigned():
    tm = E.TableMapSpec(
        database="d", name="t",
        columns=[
            ("k", C.TYPE_LONGLONG, 0, True),
            ("body", C.TYPE_BLOB, 2, False),
        ],
        key_cols=("k",),
    )
    big = "x" * 70000  # forces >64KB... but metadata=2 caps at 65535; keep below
    big = "y" * 60000
    payload = E.make_rows_event(
        tm, 9, C.E_WRITE_ROWS_V2,
        rows=[
            (None, {"k": str(2**64 - 1), "body": big}),
            (None, {"k": "1", "body": ""}),
        ],
    )
    buf = pk(C.E_WRITE_ROWS_V2, payload)
    body = E.strip_checksum(FMT, C.E_WRITE_ROWS_V2, buf)
    rows = E.read_row_maps(FMT, C.E_WRITE_ROWS_V2, body, tm.types,
                           tm.metadata, tm.unsigned, tm.col_names)
    assert rows[0][1]["k"] == "18446744073709551615"
    assert rows[0][1]["body"] == big
    assert rows[1][1] == {"k": "1", "body": ""}


def test_mariadb_gtid_roundtrip():
    """MariaDB GTID flavor (reference: binlog_event_mariadb.go): sequence
    survives encode→parse, and the event code is the MariaDB one."""
    payload = E.make_gtid_mariadb(987654321, domain=7, flags=1)
    assert E.parse_gtid_mariadb(payload) == 987654321
    fmt = E.BinlogFormat()
    frame = E.packetize(fmt, C.E_GTID_MARIADB, 0, payload,
                        timestamp=1700000000, server_id=1, log_position=4)
    ts, etype, _sid, _ln, _np, _fl = E.parse_header(frame)
    assert etype == C.E_GTID_MARIADB
    body = E.strip_checksum(fmt, etype, frame)
    assert E.parse_gtid_mariadb(body[C.HEADER_LEN:]) == 987654321


import pytest as _pytest

from binlog_spark.wire.codec import cell_bytes


@_pytest.mark.parametrize("typ,meta,value,expect", [
    # NEWDECIMAL (precision<<8 | scale) — sign, leading-zero suppression
    (C.TYPE_NEWDECIMAL, (10 << 8) | 2, "1234.56", b"1234.56"),
    (C.TYPE_NEWDECIMAL, (10 << 8) | 2, "-1234.56", b"-1234.56"),
    (C.TYPE_NEWDECIMAL, (10 << 8) | 2, "0.50", b"0.50"),
    (C.TYPE_NEWDECIMAL, (10 << 8) | 2, "-0.01", b"-0.01"),
    (C.TYPE_NEWDECIMAL, (20 << 8) | 10, "123456789.0123456789",
     b"123456789.0123456789"),
    (C.TYPE_NEWDECIMAL, (18 << 8) | 0, "987654321987654321",
     b"987654321987654321"),
    (C.TYPE_NEWDECIMAL, (9 << 8) | 0, "0", b"0"),
    # DATETIME2 at fsp 0/2/6
    (C.TYPE_DATETIME2, 0, "2026-08-17 12:34:56", b"2026-08-17 12:34:56"),
    (C.TYPE_DATETIME2, 2, "2026-08-17 12:34:56.99",
     b"2026-08-17 12:34:56.99"),
    (C.TYPE_DATETIME2, 6, "1000-01-01 00:00:00.000001",
     b"1000-01-01 00:00:00.000001"),
    # TIME2 incl. negative with fractional borrow (my_time.c cases)
    (C.TYPE_TIME2, 0, "838:59:59", b"838:59:59"),
    (C.TYPE_TIME2, 0, "-838:59:59", b"-838:59:59"),
    (C.TYPE_TIME2, 2, "11:22:33.45", b"11:22:33.45"),
    (C.TYPE_TIME2, 2, "-11:22:33.45", b"-11:22:33.45"),
    (C.TYPE_TIME2, 6, "-00:00:00.000001", b"-00:00:00.000001"),
    (C.TYPE_TIME2, 3, "00:00:00.001", b"00:00:00.001"),
    # TIMESTAMP2: encoder takes epoch secs, decoder emits UTC render
    (C.TYPE_TIMESTAMP2, 0, "86400", b"1970-01-02 00:00:00"),
    (C.TYPE_TIMESTAMP2, 2, "86400.25", b"1970-01-02 00:00:00.25"),
    (C.TYPE_TIMESTAMP2, 6, "1.000001", b"1970-01-01 00:00:01.000001"),
])
def test_v2_temporal_and_decimal_encode_decode(typ, meta, value, expect):
    """encode_cell (new v2/decimal encoders) → golden-tested cell decoder
    reproduces the canonical string exactly."""
    raw = E.encode_cell(typ, meta, False, value)
    got, ln = cell_bytes(raw, 0, typ, meta, False)
    assert got == expect
    assert ln == len(raw)


def test_rows_query_roundtrip():
    fmt = E.BinlogFormat()
    sql = "UPDATE repo_content SET content = 'x' WHERE repo = 'r'"
    frame = E.packetize(fmt, C.E_ROWS_QUERY, 0, E.make_rows_query(sql),
                        timestamp=1, server_id=1, log_position=4)
    body = E.strip_checksum(fmt, C.E_ROWS_QUERY, frame)
    assert E.parse_rows_query(fmt, body) == sql


@_pytest.mark.parametrize("typ,meta,value,expect", [
    (C.TYPE_ENUM, (C.TYPE_ENUM << 8) | 1, "3", b"3"),
    (C.TYPE_ENUM, (C.TYPE_ENUM << 8) | 2, "260", b"260"),
    # standalone SET decodes to raw bytes
    (C.TYPE_SET, (C.TYPE_SET << 8) | 2, "ab", b"ab"),
    # ENUM/SET inside TYPE_STRING metadata (10-bit quirk neighborhood)
    (C.TYPE_STRING, (C.TYPE_ENUM << 8) | 1, "7", b"7"),
    (C.TYPE_STRING, (C.TYPE_ENUM << 8) | 2, "513", b"513"),
    (C.TYPE_STRING, (C.TYPE_SET << 8) | 2, "5", b"5"),
])
def test_enum_set_encode_decode(typ, meta, value, expect):
    raw = E.encode_cell(typ, meta, False, value)
    got, ln = cell_bytes(raw, 0, typ, meta, False)
    assert got == expect
    assert ln == len(raw)


# ---------------------------------------------------------------------------
# byte transparency (reference model: charset-oblivious byte strings,
# transaction.go:114-119) — non-UTF8 cell content must round-trip
# losslessly through the string column via the latin-1 fallback mapping
# ---------------------------------------------------------------------------

def test_non_utf8_varchar_cell_round_trips_losslessly():
    from binlog_spark.wire.codec import make_cell_str_decoder

    raw = b"caf\xe9 \x80\xff"  # latin-1 text: invalid as UTF-8
    cell = bytes([len(raw)]) + raw
    dec = make_cell_str_decoder(C.TYPE_VARCHAR, 80, False)
    v, ln = dec(cell, 0)
    assert ln == len(cell)
    assert v == raw.decode("latin-1")
    assert v.encode("latin-1") == raw  # lossless reverse mapping
    # valid UTF-8 still decodes as UTF-8 (not latin-1)
    utf = "héllo →".encode()
    v2, _ = dec(bytes([len(utf)]) + utf, 0)
    assert v2 == "héllo →"


def test_non_utf8_blob_round_trips_through_rows_event():
    spec = E.TableMapSpec(
        database="db", name="t",
        columns=[("id", C.TYPE_LONG, 0, False),
                 ("payload", C.TYPE_BLOB, 2, False)])
    binary = bytes(range(0x80, 0x100)) + b"\x00\x01binary"
    payload = E.make_rows_event(
        spec, 9, C.E_WRITE_ROWS_V2,
        rows=[(None, {"id": "42", "payload": binary}),
              (None, {"id": "43", "payload": None})])  # SQL NULL
    frame = pk(C.E_WRITE_ROWS_V2, payload)
    body = E.strip_checksum(FMT, C.E_WRITE_ROWS_V2, frame)
    rows = E.read_row_maps(FMT, C.E_WRITE_ROWS_V2, body, spec.types,
                           spec.metadata, spec.unsigned, spec.col_names)
    assert len(rows) == 2
    _, after = rows[0]
    assert after["id"] == "42"
    assert after["payload"].encode("latin-1") == binary  # lossless
    _, after2 = rows[1]
    assert after2 == {"id": "43", "payload": None}

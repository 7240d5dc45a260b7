"""MySQL binary JSON (JSONB) decode — deliberate superset coverage.

The reference dead-letters JSON columns
(`/root/reference/replication/binlog_event.go:4-5` "Not supported now:
the JSON type"); our engine decodes them to canonical JSON text. Golden
byte layouts are hand-derived from the public json_binary format; the
encoder lives beside the decoder (factory parity with
binlog_event_make.go's role) and a Hypothesis round-trip fuzzes the
pair over arbitrary JSON values.
"""

import json
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from binlog_spark.wire import codec
from binlog_spark.wire import constants as C
from binlog_spark.wire import jsonb


def test_small_object_golden_bytes():
    """{"a": 1}: small object, int16 inlined in the value entry."""
    doc = bytes([
        0x00,                    # type: small object
        0x01, 0x00,              # count = 1
        0x0C, 0x00,              # payload size = 12
        0x0B, 0x00, 0x01, 0x00,  # key entry: offset 11, length 1
        0x05, 0x01, 0x00,        # value entry: int16, inlined 1
        0x61,                    # "a"
    ])
    assert jsonb.encode_value({"a": 1}) == doc
    assert jsonb.decode_value(doc) == {"a": 1}
    assert jsonb.to_text(doc) == '{"a": 1}'


def test_scalar_goldens():
    assert jsonb.encode_value(True) == bytes([0x04, 0x01])
    assert jsonb.encode_value(False) == bytes([0x04, 0x02])
    assert jsonb.encode_value(None) == bytes([0x04, 0x00])
    assert jsonb.encode_value("hi") == bytes([0x0C, 0x02]) + b"hi"
    assert jsonb.encode_value(-5) == bytes([0x05]) + (-5).to_bytes(
        2, "little", signed=True)
    assert jsonb.encode_value(40000) == bytes([0x06]) + (40000).to_bytes(
        2, "little")
    assert jsonb.encode_value(70000) == bytes([0x07]) + (70000).to_bytes(
        4, "little", signed=True)
    assert jsonb.encode_value(1 << 40) == bytes([0x09]) + (1 << 40).to_bytes(
        8, "little", signed=True)
    assert jsonb.encode_value(1 << 63) == bytes([0x0A]) + (1 << 63).to_bytes(
        8, "little")
    assert jsonb.encode_value(3.25) == bytes([0x0B]) + struct.pack("<d", 3.25)
    for v in (True, False, None, "hi", -5, 40000, 70000, 1 << 40,
              1 << 63, 3.25):
        assert jsonb.decode_value(jsonb.encode_value(v)) == v


def test_array_and_nesting_text():
    assert jsonb.to_text(jsonb.encode_value([1, "x", None, True])) == \
        '[1, "x", null, true]'
    obj = {"k": [1, {"m": "v"}], "s": "t"}
    assert jsonb.decode_value(jsonb.encode_value(obj)) == obj
    # server key order: sorted by (length, bytes) — "k" before "s"
    assert jsonb.to_text(jsonb.encode_value(obj)) == \
        '{"k": [1, {"m": "v"}], "s": "t"}'


def test_key_storage_order_length_then_bytes():
    obj = {"bb": 1, "a": 2, "ab": 3}
    assert jsonb.to_text(jsonb.encode_value(obj)) == \
        '{"a": 2, "ab": 3, "bb": 1}'


def test_large_format_when_small_overflows():
    big = "x" * 70000
    doc = jsonb.encode_value({"k": big, "n": 7})
    assert doc[0] == jsonb.T_LARGE_OBJECT
    assert jsonb.decode_value(doc) == {"k": big, "n": 7}
    arr = jsonb.encode_value([big, 1])
    assert arr[0] == jsonb.T_LARGE_ARRAY
    assert jsonb.decode_value(arr) == [big, 1]


def test_empty_payload_is_sql_json_null():
    assert jsonb.decode_value(b"") is None
    assert jsonb.to_text(b"") == "null"


def test_unsupported_and_corrupt_raise():
    # opaque BIT (not a JSON-castable SQL scalar) dead-letters
    with pytest.raises(ValueError, match="opaque"):
        jsonb.decode_value(bytes([0x0F, C.TYPE_BIT, 0x01, 0x00]))
    with pytest.raises(ValueError):
        jsonb.decode_value(bytes([0x77, 0x00]))  # unknown type byte
    # container whose declared size overruns the document
    with pytest.raises(ValueError):
        jsonb.decode_value(bytes([0x02, 0x01, 0x00, 0xFF, 0x7F, 0x05,
                                  0x01, 0x00]))


def _opaque_doc(ftype: int, payload: bytes) -> bytes:
    return bytes([0x0F, ftype]) + jsonb._write_varint(len(payload)) + payload


def test_opaque_decimal_exact():
    """Opaque DECIMAL: precision/scale header + the same packed bytes as
    a NEWDECIMAL cell — must reproduce the exact digit string including
    trailing scale zeros (a float cannot)."""
    from decimal import Decimal

    from binlog_spark.wire import events as E

    packed = E.encode_cell(C.TYPE_NEWDECIMAL, (12 << 8) | 4, False,
                           "-12345678.9012")
    doc = _opaque_doc(C.TYPE_NEWDECIMAL, bytes([12, 4]) + packed)
    assert jsonb.decode_value(doc) == Decimal("-12345678.9012")
    assert jsonb.to_text(doc) == "-12345678.9012"
    packed0 = E.encode_cell(C.TYPE_NEWDECIMAL, (6 << 8) | 3, False, "1.300")
    doc0 = _opaque_doc(C.TYPE_NEWDECIMAL, bytes([6, 3]) + packed0)
    assert jsonb.to_text(doc0) == "1.300"  # scale preserved, unquoted


def test_opaque_temporals():
    """Packed longlong temporals (my_time.h layouts) render as quoted
    text with 6-digit microseconds, like the server's JSON output."""
    def dt_packed(y, mo, d, h=0, mi=0, s=0, frac=0):
        ymd = ((y * 13 + mo) << 5) | d
        hms = (h << 12) | (mi << 6) | s
        return ((((ymd << 17) | hms) << 24) | frac).to_bytes(
            8, "little", signed=True)

    def time_packed(h, m, s, frac=0, neg=False):
        v = ((((h << 12) | (m << 6) | s) << 24) | frac)
        return (-v if neg else v).to_bytes(8, "little", signed=True)

    d = _opaque_doc(C.TYPE_DATE, dt_packed(2015, 1, 15))
    assert jsonb.decode_value(d) == "2015-01-15"
    ts = _opaque_doc(C.TYPE_DATETIME,
                     dt_packed(2015, 1, 15, 23, 24, 25, 62500))
    assert jsonb.decode_value(ts) == "2015-01-15 23:24:25.062500"
    t = _opaque_doc(C.TYPE_TIME, time_packed(23, 24, 25))
    assert jsonb.decode_value(t) == "23:24:25.000000"
    tneg = _opaque_doc(C.TYPE_TIME, time_packed(1, 2, 3, neg=True))
    assert jsonb.decode_value(tneg) == "-01:02:03.000000"
    # rendering inside a document: temporals quote, decimals don't
    from decimal import Decimal

    assert jsonb._dump(["2015-01-15", Decimal("1.30")]) == \
        '["2015-01-15", 1.30]'


_scalars = st.one_of(
    st.none(), st.booleans(),
    st.integers(min_value=-(1 << 63), max_value=(1 << 64) - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=40))


@settings(max_examples=150, deadline=None)
@given(st.recursive(
    _scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=6),
        st.dictionaries(st.text(max_size=12), inner, max_size=6)),
    max_leaves=25))
def test_encode_decode_round_trip(value):
    assert jsonb.decode_value(jsonb.encode_value(value)) == value


def test_cell_level_decode_through_codec():
    """TYPE_JSON cells route through cell_bytes like a blob with the
    payload decoded to JSON text."""
    payload = jsonb.encode_value({"tags": ["a", "b"], "n": 3})
    cell = len(payload).to_bytes(4, "little") + payload
    data = b"\xAA\xBB" + cell + b"\xCC"  # offset + trailing noise
    raw, consumed = codec.cell_bytes(data, 2, C.TYPE_JSON, 4, False)
    assert consumed == len(cell)
    assert json.loads(raw.decode()) == {"tags": ["a", "b"], "n": 3}
    # the column's str decoder agrees
    s = codec.make_cell_str_decoder(C.TYPE_JSON, 4, False)
    assert s(data, 2) == (raw.decode(), consumed)


def test_json_column_through_wire_pipeline(spark, tmp_path):
    """One INSERT with a JSON column through the full distributed decode
    (TABLE_MAP metadata byte, a "cell" step in the columnar splitter's
    wave, canonical text in the change map)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from binlog_spark import pipeline
    from binlog_spark.wire import events as E

    db, tbl, tid = "jdb", "jtab", 4242
    columns = [("id", C.TYPE_LONG, 0, False),
               ("doc", C.TYPE_JSON, 4, False)]
    spec = E.TableMapSpec(database=db, name=tbl, columns=columns,
                          key_cols=("id",))
    registry = {(db, tbl): [[(n, u) for n, _t, _m, u in columns]]}
    doc_text = '{"a": 1, "b": [true, null, "x"], "c": {"d": 2.5}}'

    fmt = E.BinlogFormat()
    frames, pos = [], 4

    def emit(etype, payload):
        nonlocal pos
        fr = bytearray(E.packetize(fmt, etype, 0, payload,
                                   timestamp=1700000000, server_id=1,
                                   log_position=pos))
        nxt = pos + len(fr)
        struct.pack_into("<I", fr, 13, nxt & 0xFFFFFFFF)
        frames.append(("binlog.000000", pos, etype, bytes(fr)))
        pos = nxt

    emit(C.E_FORMAT_DESCRIPTION, E.make_format_description(fmt))
    emit(C.E_GTID, E.make_gtid(1))
    emit(C.E_QUERY, E.make_query(db, "BEGIN"))
    emit(C.E_TABLE_MAP, E.make_table_map(spec, tid))
    emit(C.E_WRITE_ROWS_V2,
         E.make_rows_event(spec, tid, C.E_WRITE_ROWS_V2,
                           [(None, {"id": "1", "doc": doc_text})]))
    emit(C.E_XID, E.make_xid(1))

    table = pa.table({
        "file": pa.array([f[0] for f in frames], pa.string()),
        "pos": pa.array([f[1] for f in frames], pa.int64()),
        "etype": pa.array([f[2] for f in frames], pa.int32()),
        "frame": pa.array([f[3] for f in frames], pa.binary()),
    })
    d = tmp_path / "frames"
    d.mkdir()
    pq.write_table(table, str(d / "f.parquet"))

    changes = pipeline.decode_to_changes(
        spark, pipeline.read_frames(spark, str(d)), registry)
    rows = [r.asDict() for r in changes.collect()]
    assert len(rows) == 1 and rows[0]["op"] == "I"
    got = rows[0]["after"]["doc"]
    # canonical text: keys in server storage order, MySQL separators
    assert got == doc_text
    assert json.loads(got) == json.loads(doc_text)

"""Golden-value cell-decode corpus.

Ported from the reference's table-driven decode tests
(`/root/reference/replication/binlog_event_rbr_test.go:10-442`,
``TestCellLengthAndData``) — the authoritative spec for canonical cell
rendering. TIMESTAMP/TIMESTAMP2 goldens are pinned to UTC (our canonical
form; the reference renders server-local time, see codec module docstring).
"""

import pytest

from binlog_spark.wire import codec
from binlog_spark.wire import constants as C

T = C  # shorthand

CASES = [
    # (typ, metadata, unsigned, data, expected)
    (T.TYPE_TINY, 0, True, bytes([0x82]), b"130"),
    (T.TYPE_TINY, 0, False, bytes([0xFE]), b"-2"),
    (T.TYPE_YEAR, 0, False, bytes([0x82]), b"2030"),
    (T.TYPE_YEAR, 0, False, bytes([0x00]), b"0000"),
    (T.TYPE_SHORT, 0, True, bytes([0x82, 0x81]), b"%d" % 0x8182),
    (T.TYPE_SHORT, 0, False, bytes([0xFE, 0xFF]), b"%d" % (-1 - 0x0001)),
    (T.TYPE_INT24, 0, True, bytes([0x83, 0x82, 0x81]), b"%d" % 0x818283),
    (T.TYPE_INT24, 0, False, bytes([0xFD, 0xFE, 0xFF]), b"%d" % (-1 - 0x000102)),
    (T.TYPE_LONG, 0, True, bytes([0x84, 0x83, 0x82, 0x81]), b"%d" % 0x81828384),
    (T.TYPE_LONG, 0, False, bytes([0xFC, 0xFD, 0xFE, 0xFF]), b"%d" % (-1 - 0x00010203)),
    # 3.1415927E+00 = 0x40490fdb
    (T.TYPE_FLOAT, 0, False, bytes([0xDB, 0x0F, 0x49, 0x40]), b"3.1415927"),
    # 3.1415926535E+00 = 0x400921fb54411744
    (T.TYPE_DOUBLE, 0, False,
     bytes([0x44, 0x17, 0x41, 0x54, 0xFB, 0x21, 0x09, 0x40]), b"3.1415926535"),
    # 0x58d137c5 = 1490106309 = 2017-03-21 14:25:09 UTC
    (T.TYPE_TIMESTAMP, 0, False, bytes([0xC5, 0x37, 0xD1, 0x58]),
     b"2017-03-21 14:25:09"),
    (T.TYPE_TIMESTAMP, 0, False, bytes(4), b"0000-00-00 00:00:00"),
    (T.TYPE_LONGLONG, 0, True,
     bytes([0x88, 0x87, 0x86, 0x85, 0x84, 0x83, 0x82, 0x81]),
     b"%d" % 0x8182838485868788),
    (T.TYPE_LONGLONG, 0, False,
     bytes([0xF8, 0xF9, 0xFA, 0xFB, 0xFC, 0xFD, 0xFE, 0xFF]),
     b"%d" % (-1 - 0x0001020304050607)),
    # 2010 << 9 + 10 << 5 + 3 = 0x0fb543
    (T.TYPE_DATE, 0, False, bytes([0x43, 0xB5, 0x0F]), b"2010-10-03"),
    (T.TYPE_NEWDATE, 0, False, bytes([0x43, 0xB5, 0x0F]), b"2010-10-03"),
    # 154532 = 0x025ba4
    (T.TYPE_TIME, 0, False, bytes([0xA4, 0x5B, 0x02]), b"15:45:32"),
    # 19840304154532 = 0x120b6e4807a4
    (T.TYPE_DATETIME, 0, False,
     bytes([0xA4, 0x07, 0x48, 0x6E, 0x0B, 0x12, 0x00, 0x00]),
     b"1984-03-04 15:45:32"),
    (T.TYPE_VARCHAR, 20, False, bytes([3]) + b"abc", b"abc"),
    (T.TYPE_VARCHAR, 384, False, bytes([3, 0]) + b"abc", b"abc"),
    (T.TYPE_BIT, 0x0107, False, bytes([0x3, 0x1]), bytes([3, 1])),
    (T.TYPE_TIMESTAMP2, 0, False, bytes([0x58, 0xD1, 0x37, 0xC5]),
     b"2017-03-21 14:25:09"),
    (T.TYPE_TIMESTAMP2, 1, False, bytes([0x58, 0xD1, 0x37, 0xC5, 70]),
     b"2017-03-21 14:25:09.7"),
    (T.TYPE_TIMESTAMP2, 2, False, bytes([0x58, 0xD1, 0x37, 0xC5, 76]),
     b"2017-03-21 14:25:09.76"),
    (T.TYPE_TIMESTAMP2, 3, False, bytes([0x58, 0xD1, 0x37, 0xC5, 0x1D, 0xE2]),
     b"2017-03-21 14:25:09.765"),
    (T.TYPE_TIMESTAMP2, 4, False, bytes([0x58, 0xD1, 0x37, 0xC5, 0x1D, 0xE6]),
     b"2017-03-21 14:25:09.7654"),
    (T.TYPE_TIMESTAMP2, 5, False,
     bytes([0x58, 0xD1, 0x37, 0xC5, 0x0B, 0xAD, 0xF6]),
     b"2017-03-21 14:25:09.76543"),
    (T.TYPE_TIMESTAMP2, 6, False,
     bytes([0x58, 0xD1, 0x37, 0xC5, 0x0B, 0xAD, 0xF8]),
     b"2017-03-21 14:25:09.765432"),
    # (2012*13+6)<<22 + 21<<17 + 15<<12 + 45<<6 + 17 + 0x8000000000
    (T.TYPE_DATETIME2, 0, False, bytes([0x99, 0x8C, 0xAA, 0xFB, 0x51]),
     b"2012-06-21 15:45:17"),
    (T.TYPE_DATETIME2, 1, False, bytes([0x99, 0x8C, 0xAA, 0xFB, 0x51, 70]),
     b"2012-06-21 15:45:17.7"),
    (T.TYPE_DATETIME2, 2, False, bytes([0x99, 0x8C, 0xAA, 0xFB, 0x51, 76]),
     b"2012-06-21 15:45:17.76"),
    (T.TYPE_DATETIME2, 3, False,
     bytes([0x99, 0x8C, 0xAA, 0xFB, 0x51, 0x1D, 0xE2]),
     b"2012-06-21 15:45:17.765"),
    (T.TYPE_DATETIME2, 4, False,
     bytes([0x99, 0x8C, 0xAA, 0xFB, 0x51, 0x1D, 0xE6]),
     b"2012-06-21 15:45:17.7654"),
    (T.TYPE_DATETIME2, 5, False,
     bytes([0x99, 0x8C, 0xAA, 0xFB, 0x51, 0x0B, 0xAD, 0xF6]),
     b"2012-06-21 15:45:17.76543"),
    (T.TYPE_DATETIME2, 6, False,
     bytes([0x99, 0x8C, 0xAA, 0xFB, 0x51, 0x0B, 0xAD, 0xF8]),
     b"2012-06-21 15:45:17.765432"),
    # TIME2 negative-borrow block lifted from MySQL sql-common/my_time.c
    (T.TYPE_TIME2, 2, False, bytes([0x80, 0x00, 0x00, 0x00]), b"00:00:00.00"),
    (T.TYPE_TIME2, 2, False, bytes([0x7F, 0xFF, 0xFF, 0xFF]), b"-00:00:00.01"),
    (T.TYPE_TIME2, 2, False, bytes([0x7F, 0xFF, 0xFF, 0x9D]), b"-00:00:00.99"),
    (T.TYPE_TIME2, 2, False, bytes([0x7F, 0xFF, 0xFF, 0x00]), b"-00:00:01.00"),
    (T.TYPE_TIME2, 2, False, bytes([0x7F, 0xFF, 0xFE, 0xFF]), b"-00:00:01.01"),
    (T.TYPE_TIME2, 2, False, bytes([0x7F, 0xFF, 0xFE, 0xF6]), b"-00:00:01.10"),
    (T.TYPE_TIME2, 4, False, bytes([0x80, 0x00, 0x00, 0x00, 0x00]), b"00:00:00.0000"),
    (T.TYPE_TIME2, 4, False, bytes([0x7F, 0xFF, 0xFF, 0xFF, 0xFF]), b"-00:00:00.0001"),
    (T.TYPE_TIME2, 4, False, bytes([0x7F, 0xFF, 0xFF, 0xFF, 0x9D]), b"-00:00:00.0099"),
    (T.TYPE_TIME2, 4, False, bytes([0x7F, 0xFF, 0xFF, 0x00, 0x00]), b"-00:00:01.0000"),
    (T.TYPE_TIME2, 4, False, bytes([0x7F, 0xFF, 0xFE, 0xFF, 0xFF]), b"-00:00:01.0001"),
    (T.TYPE_TIME2, 4, False, bytes([0x7F, 0xFF, 0xFE, 0xFF, 0xF6]), b"-00:00:01.0010"),
    (T.TYPE_TIME2, 6, False,
     bytes([0x80, 0x00, 0x00, 0x00, 0x00, 0x00]), b"00:00:00.000000"),
    (T.TYPE_TIME2, 6, False,
     bytes([0x7F, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF]), b"-00:00:00.000001"),
    (T.TYPE_TIME2, 6, False,
     bytes([0x7F, 0xFF, 0xFF, 0xFF, 0xFF, 0x9D]), b"-00:00:00.000099"),
    (T.TYPE_TIME2, 6, False,
     bytes([0x7F, 0xFF, 0xFF, 0x00, 0x00, 0x00]), b"-00:00:01.000000"),
    (T.TYPE_TIME2, 6, False,
     bytes([0x7F, 0xFF, 0xFE, 0xFF, 0xFF, 0xFF]), b"-00:00:01.000001"),
    (T.TYPE_TIME2, 6, False,
     bytes([0x7F, 0xFF, 0xFE, 0xFF, 0xFF, 0xF6]), b"-00:00:01.000010"),
    (T.TYPE_TIME2, 0, False, bytes([0x80, 0x00, 0x00]), b"00:00:00"),
    (T.TYPE_TIME2, 1, False, bytes([0x80, 0x00, 0x01, 0x0A]), b"00:00:01.1"),
    (T.TYPE_TIME2, 2, False, bytes([0x80, 0x00, 0x01, 0x0A]), b"00:00:01.10"),
    # 15<<12 + 34<<6 + 54 = 0x00f8b6, + 0x800000
    (T.TYPE_TIME2, 0, False, bytes([0x80, 0xF8, 0xB6]), b"15:34:54"),
    (T.TYPE_ENUM, 1, False, bytes([0x03]), b"3"),
    (T.TYPE_ENUM, 2, False, bytes([0x01, 0x02]), b"%d" % 0x0201),
    (T.TYPE_SET, 2, False, bytes([0x01, 0x02]), bytes([0x01, 0x02])),
    (T.TYPE_STRING, T.TYPE_STRING << 8 | 5, False,
     bytes([0x04, 0x01, 0x02, 0x03, 0x04]), bytes([0x01, 0x02, 0x03, 0x04])),
    # 10-bit length quirk: two high bits of max-length live in metadata nibble
    (T.TYPE_STRING, (T.TYPE_STRING << 8 ^ 0x3000) | 5, False,
     bytes([0x04, 0x00, 0x01, 0x02, 0x03, 0x04]), bytes([0x01, 0x02, 0x03, 0x04])),
    # packed decimals (see MySQL strings/decimal.c decimal2bin)
    (T.TYPE_NEWDECIMAL, 14 << 8 | 4, False,
     bytes([0x81, 0x0D, 0xFB, 0x38, 0xD2, 0x04, 0xD2]), b"1234567890.1234"),
    (T.TYPE_NEWDECIMAL, 14 << 8 | 4, False,
     bytes([0x7E, 0xF2, 0x04, 0xC7, 0x2D, 0xFB, 0x2D]), b"-1234567890.1234"),
    (T.TYPE_BLOB, 1, False, bytes([0x3]) + b"abc", b"abc"),
    (T.TYPE_BLOB, 2, False, bytes([0x3, 0x00]) + b"abc", b"abc"),
    (T.TYPE_BLOB, 3, False, bytes([0x3, 0x00, 0x00]) + b"abc", b"abc"),
    (T.TYPE_BLOB, 4, False, bytes([0x3, 0x00, 0x00, 0x00]) + b"abc", b"abc"),
    (T.TYPE_VARSTRING, 20, False, bytes([3]) + b"abc", b"abc"),
    (T.TYPE_VARSTRING, 384, False, bytes([3, 0]) + b"abc", b"abc"),
    (T.TYPE_GEOMETRY, 1, False, bytes([0x3]) + b"abc", b"abc"),
    (T.TYPE_GEOMETRY, 2, False, bytes([0x3, 0x00]) + b"abc", b"abc"),
    (T.TYPE_GEOMETRY, 3, False, bytes([0x3, 0x00, 0x00]) + b"abc", b"abc"),
    (T.TYPE_GEOMETRY, 4, False, bytes([0x3, 0x00, 0x00, 0x00]) + b"abc", b"abc"),
]


@pytest.mark.parametrize("typ,metadata,unsigned,data,expected", CASES)
def test_cell_length_and_bytes(typ, metadata, unsigned, data, expected):
    # pad one byte on each side so the pos argument is exercised
    padded = b"\x00" + data + b"\x00"
    out, consumed = codec.cell_bytes(padded, 1, typ, metadata, unsigned)
    assert consumed == len(data)
    assert out == expected


def test_lenenc_int_roundtrip():
    for v in [0, 1, 250, 251, 0xFB, 0xFC, 300, 65535, 65536, 1 << 22,
              (1 << 24) - 1, 1 << 24, 1 << 40, (1 << 63) + 5]:
        buf = b"\xaa" + codec.write_lenenc_int(v) + b"\xbb"
        got, pos = codec.read_lenenc_int(buf, 1)
        assert got == v and pos == 1 + len(codec.write_lenenc_int(v))


def test_float_canonical_never_scientific():
    import struct
    for f in [1e-7, 1.5e20, -2.25, 0.0, 1e16]:
        bits = int.from_bytes(struct.pack("<d", f), "little")
        out, _ = codec.cell_bytes(struct.pack("<d", f), 0, C.TYPE_DOUBLE, 0, False)
        assert b"e" not in out.lower()
        assert float(out) == f

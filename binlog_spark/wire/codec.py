"""Binlog ROW-format cell codec: canonical byte-string rendering.

Re-implements, from public MySQL wire-format knowledge, the cell decoding
semantics of the reference CDC library (`/root/reference/replication/
binlog_event_rbr.go:195-1041` — ``cellLength`` / ``CellBytes`` /
``readLenEncInt``) so that decoded values are *canonical byte strings*:
ints as decimal ASCII, floats in shortest non-scientific form, temporals as
``YYYY-MM-DD HH:MM:SS[.ffffff]``, decimals as exact digit strings, and
strings/blobs as raw bytes. NULL is represented out-of-band (``None``).

Two deliberate canonicalization deviations from the reference, pinned here
and asserted by tests:

* ``TIMESTAMP``/``TIMESTAMP2`` render in **UTC**, not server-local time
  (the reference uses ``time.Local``; environment-dependent output is not
  acceptable for a distributed engine — SURVEY.md §7 "hard parts").
* ``NEWDECIMAL`` renders the first non-zero 9-digit group unpadded (the
  reference space-pads it via Go ``%9d`` when the leading partial group is
  zero — an output bug its own goldens never exercise).

These functions run *inside Arrow batches* (pandas UDF / mapInPandas);
they are the per-event decode kernel, never registered as row-at-a-time
Spark UDFs.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np

from . import constants as C

DIG2BYTES = (0, 1, 1, 2, 2, 3, 3, 4, 4, 4)

ZERO_TIMESTAMP = b"0000-00-00 00:00:00"

_EPOCH = _dt.datetime(1970, 1, 1)


def read_lenenc_int(data, pos: int):
    """MySQL length-encoded integer -> (value, new_pos). Raises on truncation."""
    first = data[pos]
    if first == 0xFC:
        return data[pos + 1] | data[pos + 2] << 8, pos + 3
    if first == 0xFD:
        return data[pos + 1] | data[pos + 2] << 8 | data[pos + 3] << 16, pos + 4
    if first == 0xFE:
        return int.from_bytes(data[pos + 1 : pos + 9], "little"), pos + 9
    return first, pos + 1


def write_lenenc_int(v: int) -> bytes:
    if v < 0xFC:
        return bytes([v])
    if v < 1 << 16:
        return b"\xfc" + v.to_bytes(2, "little")
    if v < 1 << 24:
        return b"\xfd" + v.to_bytes(3, "little")
    return b"\xfe" + v.to_bytes(8, "little")


# ---------------------------------------------------------------------------
# TABLE_MAP per-column metadata field widths
# ---------------------------------------------------------------------------

_META0 = {
    C.TYPE_DECIMAL, C.TYPE_TINY, C.TYPE_SHORT, C.TYPE_LONG, C.TYPE_NULL,
    C.TYPE_TIMESTAMP, C.TYPE_LONGLONG, C.TYPE_INT24, C.TYPE_DATE, C.TYPE_TIME,
    C.TYPE_DATETIME, C.TYPE_YEAR, C.TYPE_NEWDATE,
}
_META1 = {
    C.TYPE_FLOAT, C.TYPE_DOUBLE, C.TYPE_TIMESTAMP2, C.TYPE_DATETIME2,
    C.TYPE_TIME2, C.TYPE_JSON, C.TYPE_TINYBLOB, C.TYPE_MEDIUMBLOB,
    C.TYPE_LONGBLOB, C.TYPE_BLOB, C.TYPE_GEOMETRY,
}
_META2_BE = {C.TYPE_NEWDECIMAL, C.TYPE_ENUM, C.TYPE_SET, C.TYPE_STRING}
_META2_LE = {C.TYPE_VARCHAR, C.TYPE_BIT, C.TYPE_VARSTRING}


def metadata_length(typ: int) -> int:
    if typ in _META0:
        return 0
    if typ in _META1:
        return 1
    if typ in _META2_BE or typ in _META2_LE:
        return 2
    raise ValueError(f"metadata_length: unhandled type {typ}")


def metadata_read(data, pos: int, typ: int):
    """-> (metadata_value, new_pos). BE for decimal/enum/set/string, LE otherwise."""
    if typ in _META0:
        return 0, pos
    if typ in _META1:
        return data[pos], pos + 1
    if typ in _META2_BE:
        return (data[pos] << 8) + data[pos + 1], pos + 2
    if typ in _META2_LE:
        return data[pos] + (data[pos + 1] << 8), pos + 2
    raise ValueError(f"metadata_read: unhandled type {typ}")


def metadata_write(typ: int, value: int) -> bytes:
    if typ in _META0:
        return b""
    if typ in _META1:
        return bytes([value & 0xFF])
    if typ in _META2_BE:
        return bytes([(value >> 8) & 0xFF, value & 0xFF])
    if typ in _META2_LE:
        return bytes([value & 0xFF, (value >> 8) & 0xFF])
    raise ValueError(f"metadata_write: unhandled type {typ}")


# ---------------------------------------------------------------------------
# cell length
# ---------------------------------------------------------------------------


def cell_length(data, pos: int, typ: int, metadata: int) -> int:
    """Byte width of one cell at `pos` (parity: binlog_event_rbr.go:195-310)."""
    if typ == C.TYPE_NULL:
        return 0
    if typ in (C.TYPE_TINY, C.TYPE_YEAR):
        return 1
    if typ == C.TYPE_SHORT:
        return 2
    if typ == C.TYPE_INT24:
        return 3
    if typ in (C.TYPE_LONG, C.TYPE_FLOAT, C.TYPE_TIMESTAMP):
        return 4
    if typ in (C.TYPE_LONGLONG, C.TYPE_DOUBLE):
        return 8
    if typ in (C.TYPE_DATE, C.TYPE_TIME, C.TYPE_NEWDATE):
        return 3
    if typ == C.TYPE_DATETIME:
        return 8
    if typ in (C.TYPE_VARCHAR, C.TYPE_VARSTRING):
        if metadata > 255:
            return (data[pos] | data[pos + 1] << 8) + 2
        return data[pos] + 1
    if typ == C.TYPE_BIT:
        nbits = ((metadata >> 8) * 8) + (metadata & 0xFF)
        return (nbits + 7) // 8
    if typ == C.TYPE_TIMESTAMP2:
        return 4 + (metadata + 1) // 2
    if typ == C.TYPE_DATETIME2:
        return 5 + (metadata + 1) // 2
    if typ == C.TYPE_TIME2:
        return 3 + (metadata + 1) // 2
    if typ == C.TYPE_NEWDECIMAL:
        precision = metadata >> 8
        scale = metadata & 0xFF
        intg = precision - scale
        intg0, intg0x = divmod(intg, 9)
        frac0, frac0x = divmod(scale, 9)
        return intg0 * 4 + DIG2BYTES[intg0x] + frac0 * 4 + DIG2BYTES[frac0x]
    if typ in (C.TYPE_ENUM, C.TYPE_SET):
        return metadata & 0xFF
    if typ in (C.TYPE_TINYBLOB, C.TYPE_MEDIUMBLOB, C.TYPE_LONGBLOB, C.TYPE_BLOB,
               C.TYPE_GEOMETRY, C.TYPE_JSON):
        if not 1 <= metadata <= 4:
            raise ValueError(f"unsupported blob/geometry metadata {metadata}")
        return metadata + int.from_bytes(data[pos : pos + metadata], "little")
    if typ == C.TYPE_STRING:
        t = metadata >> 8
        if t in (C.TYPE_ENUM, C.TYPE_SET):
            return metadata & 0xFF
        max_len = (((metadata >> 4) & 0x300) ^ 0x300) + (metadata & 0xFF)
        if max_len > 255:
            return (data[pos] | data[pos + 1] << 8) + 2
        return data[pos] + 1
    raise ValueError(f"unsupported type {typ}")


# ---------------------------------------------------------------------------
# canonical render helpers
# ---------------------------------------------------------------------------


def _fmt_float32(bits: int) -> bytes:
    v = np.float32(np.uint32(bits).view(np.float32))
    return np.format_float_positional(v, unique=True, trim="-").encode()


def _fmt_float64(bits: int) -> bytes:
    v = np.uint64(bits).view(np.float64)
    return np.format_float_positional(v, unique=True, trim="-").encode()


def _print_timestamp(secs: int) -> bytearray:
    """Canonical UTC render of an epoch-seconds timestamp; 0 -> zero-date."""
    if secs == 0:
        return bytearray(ZERO_TIMESTAMP)
    t = _EPOCH + _dt.timedelta(seconds=secs)
    return bytearray(
        b"%04d-%02d-%02d %02d:%02d:%02d"
        % (t.year, t.month, t.day, t.hour, t.minute, t.second)
    )


def _frac_suffix(data, pos: int, metadata: int) -> bytes:
    """Fractional-seconds suffix for TIMESTAMP2/DATETIME2 (BE packed)."""
    if metadata == 0:
        return b""
    nbytes = (metadata + 1) // 2
    frac = int.from_bytes(data[pos : pos + nbytes], "big")
    if metadata % 2 == 1:
        frac //= 10
    return b".%0*d" % (metadata, frac)


# ---------------------------------------------------------------------------
# cell decode
# ---------------------------------------------------------------------------


def cell_bytes(data, pos: int, typ: int, metadata: int, unsigned: bool):
    """Decode one cell -> (canonical_bytes, consumed_length).

    Parity target: ``CellBytes`` (binlog_event_rbr.go:474-1004); see module
    docstring for the two pinned canonicalization deviations.
    """
    if typ == C.TYPE_TINY:
        v = data[pos]
        if not unsigned and v >= 0x80:
            v -= 0x100
        return b"%d" % v, 1

    if typ == C.TYPE_YEAR:
        v = data[pos]
        if v == 0:
            return b"0000", 1
        return b"%d" % (v + 1900), 1

    if typ == C.TYPE_SHORT:
        v = data[pos] | data[pos + 1] << 8
        if not unsigned and v >= 0x8000:
            v -= 0x10000
        return b"%d" % v, 2

    if typ == C.TYPE_INT24:
        v = data[pos] | data[pos + 1] << 8 | data[pos + 2] << 16
        if not unsigned and v >= 0x800000:
            v -= 0x1000000
        return b"%d" % v, 3

    if typ == C.TYPE_LONG:
        v = int.from_bytes(data[pos : pos + 4], "little")
        if not unsigned and v >= 0x80000000:
            v -= 0x100000000
        return b"%d" % v, 4

    if typ == C.TYPE_FLOAT:
        bits = int.from_bytes(data[pos : pos + 4], "little")
        return _fmt_float32(bits), 4

    if typ == C.TYPE_DOUBLE:
        bits = int.from_bytes(data[pos : pos + 8], "little")
        return _fmt_float64(bits), 8

    if typ == C.TYPE_TIMESTAMP:
        secs = int.from_bytes(data[pos : pos + 4], "little")
        return bytes(_print_timestamp(secs)), 4

    if typ == C.TYPE_LONGLONG:
        v = int.from_bytes(data[pos : pos + 8], "little")
        if not unsigned and v >= 1 << 63:
            v -= 1 << 64
        return b"%d" % v, 8

    if typ in (C.TYPE_DATE, C.TYPE_NEWDATE):
        v = data[pos] | data[pos + 1] << 8 | data[pos + 2] << 16
        return b"%04d-%02d-%02d" % (v >> 9, (v >> 5) & 15, v & 31), 3

    if typ == C.TYPE_TIME:
        v = data[pos] | data[pos + 1] << 8 | data[pos + 2] << 16
        if v >= 0x800000:
            a = 0x1000000 - v  # magnitude of the sign-extended 24-bit value
            # sign rides on the hour field only, as in the reference (and is
            # lost for -00:MM:SS, same as Go's truncating division there)
            return b"%02d:%02d:%02d" % (-(a // 10000), (a % 10000) // 100, a % 100), 3
        return b"%02d:%02d:%02d" % (v // 10000, (v % 10000) // 100, v % 100), 3

    if typ == C.TYPE_DATETIME:
        v = int.from_bytes(data[pos : pos + 8], "little")
        d, t = divmod(v, 1000000)
        return (
            b"%04d-%02d-%02d %02d:%02d:%02d"
            % (d // 10000, (d % 10000) // 100, d % 100,
               t // 10000, (t % 10000) // 100, t % 100),
            8,
        )

    if typ in (C.TYPE_VARCHAR, C.TYPE_VARSTRING):
        if metadata > 255:
            l = data[pos] | data[pos + 1] << 8
            return bytes(data[pos + 2 : pos + 2 + l]), l + 2
        l = data[pos]
        return bytes(data[pos + 1 : pos + 1 + l]), l + 1

    if typ == C.TYPE_BIT:
        nbits = ((metadata >> 8) * 8) + (metadata & 0xFF)
        l = (nbits + 7) // 8
        return bytes(data[pos : pos + l]), l

    if typ == C.TYPE_TIMESTAMP2:
        secs = int.from_bytes(data[pos : pos + 4], "big")  # v2 temporals are BE
        txt = _print_timestamp(secs)
        txt += _frac_suffix(data, pos + 4, metadata)
        return bytes(txt), 4 + (metadata + 1) // 2

    if typ == C.TYPE_DATETIME2:
        ymdhms = int.from_bytes(data[pos : pos + 5], "big") - 0x8000000000
        ymd = ymdhms >> 17
        ym = ymd >> 5
        hms = ymdhms & ((1 << 17) - 1)
        txt = bytearray(
            b"%04d-%02d-%02d %02d:%02d:%02d"
            % (ym // 13, ym % 13, ymd & 31, hms >> 12, (hms >> 6) & 63, hms & 63)
        )
        txt += _frac_suffix(data, pos + 5, metadata)
        return bytes(txt), 5 + (metadata + 1) // 2

    if typ == C.TYPE_TIME2:
        hms = int.from_bytes(data[pos : pos + 3], "big") - 0x800000
        sign = b""
        if hms < 0:
            hms = -hms
            sign = b"-"
        frac_str = b""
        if metadata:
            nbytes = (metadata + 1) // 2
            frac = int.from_bytes(data[pos + 3 : pos + 3 + nbytes], "big")
            if sign == b"-" and frac != 0:
                hms -= 1
                frac = (1 << (nbytes * 8)) - frac
            if metadata % 2 == 1:
                frac //= 10
            frac_str = b".%0*d" % (metadata, frac)
        return (
            sign
            + b"%02d:%02d:%02d" % ((hms >> 12) & 0x3FF, (hms >> 6) & 63, hms & 63)
            + frac_str,
            3 + (metadata + 1) // 2,
        )

    if typ == C.TYPE_NEWDECIMAL:
        return _decode_new_decimal(data, pos, metadata)

    if typ == C.TYPE_ENUM:
        width = metadata & 0xFF
        if width == 1:
            return b"%d" % data[pos], 1
        if width == 2:
            return b"%d" % (data[pos] | data[pos + 1] << 8), 2
        raise ValueError(f"unexpected enum size {width}")

    if typ == C.TYPE_SET:
        l = metadata & 0xFF
        return bytes(data[pos : pos + l]), l

    if typ in (C.TYPE_TINYBLOB, C.TYPE_MEDIUMBLOB, C.TYPE_LONGBLOB, C.TYPE_BLOB,
               C.TYPE_GEOMETRY):
        if not 1 <= metadata <= 4:
            raise ValueError(f"unsupported blob metadata {metadata}")
        l = int.from_bytes(data[pos : pos + metadata], "little")
        start = pos + metadata
        return bytes(data[start : start + l]), l + metadata

    if typ == C.TYPE_JSON:
        # binary JSON document → canonical text (a superset of the
        # reference, which dead-letters JSON columns — see wire/jsonb.py)
        if not 1 <= metadata <= 4:
            raise ValueError(f"unsupported json metadata {metadata}")
        l = int.from_bytes(data[pos : pos + metadata], "little")
        start = pos + metadata
        from . import jsonb

        return jsonb.to_text(data[start : start + l]).encode(), l + metadata

    if typ == C.TYPE_STRING:
        t = metadata >> 8
        if t == C.TYPE_ENUM:
            width = metadata & 0xFF
            if width == 1:
                return b"%d" % data[pos], 1
            if width == 2:
                return b"%d" % (data[pos] | data[pos + 1] << 8), 2
            raise ValueError(f"unexpected enum size {width}")
        if t == C.TYPE_SET:
            l = metadata & 0xFF
            return b"%d" % int.from_bytes(data[pos : pos + l], "little"), l
        # real CHAR/STRING: 10-bit max length, 2 of the bits live in the
        # high metadata nibble (binlog_event_rbr.go:969)
        max_len = (((metadata >> 4) & 0x300) ^ 0x300) + (metadata & 0xFF)
        if max_len > 255:
            l = data[pos] | data[pos + 1] << 8
            return bytes(data[pos + 2 : pos + 2 + l]), l + 2
        l = data[pos]
        return bytes(data[pos + 1 : pos + 1 + l]), l + 1

    raise ValueError(f"unsupported type {typ}")


def _decode_new_decimal(data, pos: int, metadata: int):
    """MySQL packed decimal -> exact digit string (binlog_event_rbr.go:751-897)."""
    precision = metadata >> 8
    scale = metadata & 0xFF
    intg = precision - scale
    intg0, intg0x = divmod(intg, 9)
    frac0, frac0x = divmod(scale, 9)
    l = intg0 * 4 + DIG2BYTES[intg0x] + frac0 * 4 + DIG2BYTES[frac0x]

    d = bytearray(data[pos : pos + l])
    out = bytearray()
    negative = (d[0] & 0x80) == 0
    d[0] ^= 0x80
    if negative:
        out += b"-"
        for i in range(len(d)):
            d[i] ^= 0xFF

    p = DIG2BYTES[intg0x]
    val = int.from_bytes(d[0:p], "big") if p else 0
    wrote_int = False
    if val > 0:
        wrote_int = True
        out += b"%d" % val
    for _ in range(intg0):
        val = int.from_bytes(d[p : p + 4], "big")
        if wrote_int:
            out += b"%09d" % val
        elif val > 0:
            out += b"%d" % val  # first non-zero group: unpadded (see docstring)
            wrote_int = True
        p += 4

    if scale == 0:
        if not wrote_int:
            out += b"0"
        return bytes(out), l

    if not wrote_int:
        out += b"0"
    out += b"."
    for _ in range(frac0):
        out += b"%09d" % int.from_bytes(d[p : p + 4], "big")
        p += 4
    nb = DIG2BYTES[frac0x]
    if nb:
        out += b"%0*d" % (frac0x, int.from_bytes(d[p : p + nb], "big"))
    return bytes(out), l


# ---------------------------------------------------------------------------
# cell text
# ---------------------------------------------------------------------------


def to_text(raw: bytes) -> str:
    """Canonical text for a cell's bytes: UTF-8 when valid, else a lossless
    latin-1 byte→U+00..FF mapping (reversible via ``.encode('latin-1')``).

    The reference's output model is charset-oblivious raw byte strings
    (`/root/reference/transaction.go:114-119` ``CellBytes``); a Spark
    string column must hold valid Unicode, so non-UTF8 content (latin1
    text, binary BLOBs) is carried through the one-to-one latin-1 mapping
    instead of being corrupted by replacement characters. Deterministic:
    a byte sequence decodes the same way on every executor."""
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


_STR_DECODER_CACHE: dict = {}


# text-bearing wire types a declared column charset applies to (GEOMETRY
# shares the blob wire layout but is binary by definition)
_TEXT_TYPES = {C.TYPE_VARCHAR, C.TYPE_VARSTRING, C.TYPE_STRING,
               C.TYPE_TINYBLOB, C.TYPE_MEDIUMBLOB, C.TYPE_LONGBLOB,
               C.TYPE_BLOB}


def make_cell_str_decoder(typ: int, metadata: int, unsigned: bool,
                          codec: str | None = None):
    """Cached ``(data, pos) -> (str, consumed)`` closure over ``cell_bytes``
    for one column: the cell's canonical bytes as text (``to_text``).

    ``codec``: a known non-UTF-8 column charset (collations.source_codec)
    decodes a text-type cell AT SOURCE with that codec — no post-hoc
    re-interpretation, which is ambiguous for non-UTF-8 bytes that happen
    to form valid UTF-8 (r4 ADVICE / operators/charset.py residual case)."""
    key = (typ, metadata, unsigned, codec)
    d = _STR_DECODER_CACHE.get(key)
    if d is None:
        if codec is not None and typ in _TEXT_TYPES:
            def d(data, pos):
                v, ln = cell_bytes(data, pos, typ, metadata, unsigned)
                # substitution on decode only: one corrupt cell must not
                # fail the job (charset_decode_column contract)
                return v.decode(codec, "replace"), ln
        else:
            def d(data, pos):
                v, ln = cell_bytes(data, pos, typ, metadata, unsigned)
                return to_text(v), ln
        _STR_DECODER_CACHE[key] = d
    return d

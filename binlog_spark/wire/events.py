"""Binlog v4 event frame encoders + header parsing.

The encoder side is our deterministic test/bench *generator*: it produces
well-formed binlog event frames the way the reference's synthetic event
factory does for its own tests (`/root/reference/replication/
binlog_event_make.go:11-411` — Packetize header layout per
`binlog_event_common.go:13-31`; CRC32 slot present but zeroed).

The parser side (`parse_header`, `parse_format_description`, `parse_query`,
`parse_rotate`, `parse_gtid`, `parse_table_map`, `read_row_maps`) is the
event-level decode used inside the Arrow UDF stage (operators/decode.py).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from functools import cached_property

from . import constants as C
from .codec import (
    metadata_read,
    metadata_write,
    read_lenenc_int,
)


@dataclass
class BinlogFormat:
    format_version: int = 4
    server_version: str = C.MYSQL56_SERVER_VERSION
    header_length: int = C.HEADER_LEN
    checksum_algorithm: int = C.CHECKSUM_ALG_CRC32
    header_sizes: bytes = C.MYSQL56_HEADER_SIZES

    def header_size(self, typ: int) -> int:
        """Post-header size for an event type (0 when unknown)."""
        if 1 <= typ <= len(self.header_sizes):
            return self.header_sizes[typ - 1]
        return 0


@dataclass
class TableMapSpec:
    """A table's wire schema + externally-supplied column names/signedness.

    In the reference, TABLE_MAP carries types/metadata while names and
    unsigned-ness come from a pluggable mapper (`row_streamer.go:19-21`,
    `mysql_table.go:4-13`); we carry both together since our generator is
    also the schema authority.
    """

    database: str
    name: str
    columns: list  # list[(col_name, typ, metadata, unsigned)]
    flags: int = 1
    key_cols: tuple = ()  # names of primary-key columns (identify image)

    # cached: the generator reads these per row image — recomputing the
    # comprehension millions of times showed up in generation profiles
    # (specs are treated as immutable after construction)
    @cached_property
    def col_names(self):
        return [c[0] for c in self.columns]

    @cached_property
    def types(self):
        return [c[1] for c in self.columns]

    @cached_property
    def metadata(self):
        return [c[2] for c in self.columns]

    @cached_property
    def unsigned(self):
        return [c[3] for c in self.columns]


def _bitmap_bytes(bits, count: int) -> bytes:
    out = bytearray((count + 7) // 8)
    for i, b in enumerate(bits):
        if b:
            out[i // 8] |= 1 << (i % 8)
    return bytes(out)


# ---------------------------------------------------------------------------
# encoding
# ---------------------------------------------------------------------------


def apply_crc32(buf: bytes) -> bytes:
    """Fill the trailing 4-byte checksum slot with the real
    BINLOG_CHECKSUM_ALG_CRC32 value: ISO-3309 CRC-32 (zlib's polynomial —
    what the server writes) over everything before the slot. Callers
    patch header fields (next_position) AFTER ``packetize``, so the CRC
    is applied last."""
    import zlib
    out = bytearray(buf)
    struct.pack_into("<I", out, len(out) - 4,
                     zlib.crc32(bytes(out[:-4])) & 0xFFFFFFFF)
    return bytes(out)


def packetize(fmt: BinlogFormat, typ: int, flags: int, data: bytes,
              timestamp: int, server_id: int, log_position: int) -> bytes:
    """v4 header + payload [+ zeroed CRC32 slot — see ``apply_crc32``]."""
    length = fmt.header_length + len(data)
    if typ == C.E_FORMAT_DESCRIPTION or fmt.checksum_algorithm == C.CHECKSUM_ALG_CRC32:
        length += 4
    out = bytearray(length)
    struct.pack_into("<IBII", out, 0, timestamp & 0xFFFFFFFF, typ, server_id, length)
    struct.pack_into("<IH", out, 13, log_position & 0xFFFFFFFF, flags)
    out[fmt.header_length : fmt.header_length + len(data)] = data
    return bytes(out)


def make_format_description(fmt: BinlogFormat) -> bytes:
    data = bytearray(2 + 50 + 4 + 1 + len(fmt.header_sizes) + 1)
    struct.pack_into("<H", data, 0, fmt.format_version)
    sv = fmt.server_version.encode()[:50]
    data[2 : 2 + len(sv)] = sv
    data[56] = fmt.header_length
    data[57 : 57 + len(fmt.header_sizes)] = fmt.header_sizes
    data[57 + len(fmt.header_sizes)] = fmt.checksum_algorithm
    return bytes(data)


def make_rotate(position: int, filename: str) -> bytes:
    return struct.pack("<Q", position) + filename.encode()


def make_query(database: str, sql: str) -> bytes:
    db = database.encode()
    data = bytearray(4 + 4 + 1 + 2 + 2)
    data[8] = len(db)
    # no status vars
    return bytes(data) + db + b"\x00" + sql.encode()


def make_xid(xid: int = 0) -> bytes:
    return struct.pack("<Q", xid)


def make_rows_query(sql: str) -> bytes:
    """ROWS_QUERY payload: 1-byte (truncated) length + query text."""
    raw = sql.encode()
    return bytes([min(len(raw), 255)]) + raw


def parse_rows_query(fmt: BinlogFormat, data) -> str:
    """ROWS_QUERY event → original statement text (the length byte is
    capped at 255; the text is simply the remainder, as in MySQL)."""
    body = data[fmt.header_length :]
    return bytes(body[1:]).decode("utf-8", errors="replace")


def make_gtid(gno: int, sid: bytes = b"\x00" * 16, flags: int = 1) -> bytes:
    """MySQL 5.6 GTID event payload: flags(1) + sid(16) + gno(8, LE)."""
    return bytes([flags]) + sid + struct.pack("<q", gno)


def make_gtid_mariadb(gno: int, domain: int = 0, flags: int = 0) -> bytes:
    """MariaDB GTID event payload: sequence(8 LE) + domain(4 LE) + flags."""
    return struct.pack("<QI", gno, domain) + bytes([flags])


def parse_gtid(data) -> int:
    return struct.unpack_from("<q", data, 17)[0]


def parse_gtid_mariadb(data) -> int:
    """MariaDB GTID event body → sequence number (the ordering key).
    Layout: sequence uint64 LE, domain uint32 LE, flags byte
    (reference flavor: replication/binlog_event_mariadb.go)."""
    return struct.unpack_from("<Q", data, 0)[0]


def make_table_map(tm: TableMapSpec, table_id: int) -> bytes:
    types = tm.types
    meta = tm.metadata
    out = bytearray()
    out += table_id.to_bytes(6, "little")
    out += struct.pack("<H", tm.flags)
    db = tm.database.encode()
    name = tm.name.encode()
    out += bytes([len(db)]) + db + b"\x00"
    out += bytes([len(name)]) + name + b"\x00"
    out += bytes([len(types)])  # len-enc (always < 251 columns here)
    out += bytes(types)
    meta_blob = b"".join(metadata_write(t, m) for t, m in zip(types, meta))
    out += bytes([len(meta_blob)]) + meta_blob
    out += _bitmap_bytes([True] * len(types), len(types))  # all nullable
    return bytes(out)


def encode_cell(typ: int, metadata: int, unsigned: bool, value: str) -> bytes:
    """Inverse of codec.cell_bytes for the generator's canonical strings."""
    if typ == C.TYPE_TINY:
        return struct.pack("<B" if unsigned else "<b", int(value))
    if typ == C.TYPE_SHORT:
        return struct.pack("<H" if unsigned else "<h", int(value))
    if typ == C.TYPE_INT24:
        v = int(value)
        return (v & 0xFFFFFF).to_bytes(3, "little")
    if typ == C.TYPE_LONG:
        return struct.pack("<I" if unsigned else "<i", int(value))
    if typ == C.TYPE_LONGLONG:
        return struct.pack("<Q" if unsigned else "<q", int(value))
    if typ == C.TYPE_YEAR:
        v = int(value)
        return bytes([0 if v == 0 else v - 1900])
    if typ == C.TYPE_FLOAT:
        return struct.pack("<f", float(value))
    if typ == C.TYPE_DOUBLE:
        return struct.pack("<d", float(value))
    if typ == C.TYPE_TIMESTAMP:
        return struct.pack("<I", int(value))  # generator passes epoch secs
    if typ == C.TYPE_DATE or typ == C.TYPE_NEWDATE:
        y, m, d = (int(x) for x in value.split("-"))
        return ((y << 9) | (m << 5) | d).to_bytes(3, "little")
    if typ == C.TYPE_TIME:
        neg = value.startswith("-")
        h, mi, s = (abs(int(x)) for x in value.lstrip("-").split(":"))
        v = h * 10000 + mi * 100 + s
        if neg:
            v = (1 << 24) - v
        return v.to_bytes(3, "little")
    if typ == C.TYPE_DATETIME:
        date_part, time_part = value.split(" ")
        y, m, d = (int(x) for x in date_part.split("-"))
        h, mi, s = (int(x) for x in time_part.split(":"))
        v = (y * 10000 + m * 100 + d) * 1000000 + h * 10000 + mi * 100 + s
        return struct.pack("<Q", v)
    if typ in (C.TYPE_VARCHAR, C.TYPE_VARSTRING):
        raw = value.encode()
        if metadata > 255:
            return struct.pack("<H", len(raw)) + raw
        return bytes([len(raw)]) + raw
    if typ == C.TYPE_STRING and (metadata >> 8) in (C.TYPE_ENUM, C.TYPE_SET):
        # reference quirk: ENUM/SET ride inside TYPE_STRING metadata
        # (binlog_event_rbr.go:939-977); cells are little-endian ints
        return int(value).to_bytes(metadata & 0xFF, "little")
    if typ == C.TYPE_STRING:
        raw = value.encode()
        max_len = (((metadata >> 4) & 0x300) ^ 0x300) + (metadata & 0xFF)
        if max_len > 255:
            return struct.pack("<H", len(raw)) + raw
        return bytes([len(raw)]) + raw
    if typ in (C.TYPE_TINYBLOB, C.TYPE_MEDIUMBLOB, C.TYPE_LONGBLOB, C.TYPE_BLOB,
               C.TYPE_GEOMETRY):
        raw = value.encode() if isinstance(value, str) else bytes(value)
        return len(raw).to_bytes(metadata, "little") + raw
    if typ == C.TYPE_JSON:
        # canonical JSON text -> binary JSONB document (wire/jsonb.py)
        import json as _json

        from . import jsonb as _jsonb

        raw = _jsonb.encode_value(_json.loads(value))
        return len(raw).to_bytes(metadata, "little") + raw
    if typ == C.TYPE_TIMESTAMP2:
        # "<epoch secs>[.frac]" -> BE secs + packed fractional (fsp=metadata)
        secs, frac = _split_frac(value, metadata)
        return secs.to_bytes(4, "big") + frac
    if typ == C.TYPE_DATETIME2:
        # "YYYY-MM-DD HH:MM:SS[.ffffff]" -> 5-byte BE packed + 0x8000000000
        base, frac = value.split(".") if "." in value else (value, "")
        date_part, time_part = base.split(" ")
        y, mo, d = (int(x) for x in date_part.split("-"))
        h, mi, s = (int(x) for x in time_part.split(":"))
        ymd = (y * 13 + mo) << 5 | d
        hms = h << 12 | mi << 6 | s
        packed = (ymd << 17 | hms) + 0x8000000000
        return packed.to_bytes(5, "big") + _pack_frac(frac, metadata)
    if typ == C.TYPE_TIME2:
        # "[-]HH:MM:SS[.ffffff]" -> 3-byte BE packed + 0x800000, negative
        # values two's-complement with fractional borrow (codec.py inverse)
        neg = value.startswith("-")
        base, frac = value.lstrip("-").split(".") if "." in value else (
            value.lstrip("-"), "")
        h, mi, s = (int(x) for x in base.split(":"))
        hms = h << 12 | mi << 6 | s
        fb = _pack_frac(frac, metadata)
        if not neg:
            return (hms + 0x800000).to_bytes(3, "big") + fb
        if metadata and int(frac.ljust((metadata + 1) // 2 * 2, "0") or 0):
            nbytes = (metadata + 1) // 2
            fv = int(frac.ljust(metadata, "0"))
            if metadata % 2 == 1:
                fv *= 10
            return (0x800000 - hms - 1).to_bytes(3, "big") + (
                (1 << (nbytes * 8)) - fv).to_bytes(nbytes, "big")
        return (0x800000 - hms).to_bytes(3, "big") + fb
    if typ == C.TYPE_NEWDECIMAL:
        return _encode_new_decimal(value, metadata)
    if typ == C.TYPE_ENUM:
        width = metadata & 0xFF
        return int(value).to_bytes(width, "little")
    if typ == C.TYPE_SET:
        l = metadata & 0xFF
        raw = value.encode() if isinstance(value, str) else bytes(value)
        return raw[:l].ljust(l, b"\x00")
    if typ == C.TYPE_BIT:
        nbits = ((metadata >> 8) * 8) + (metadata & 0xFF)
        raw = value.encode() if isinstance(value, str) else bytes(value)
        want = (nbits + 7) // 8
        return raw[:want].rjust(want, b"\x00")
    raise ValueError(f"encode_cell: unsupported type {typ}")


def _split_frac(value: str, fsp: int):
    if "." in value:
        secs, frac = value.split(".")
    else:
        secs, frac = value, ""
    return int(secs), _pack_frac(frac, fsp)


def _pack_frac(frac_digits: str, fsp: int) -> bytes:
    """Pack fractional-second digits to the (fsp+1)//2-byte BE field."""
    if fsp == 0:
        return b""
    nbytes = (fsp + 1) // 2
    v = int(frac_digits.ljust(fsp, "0") or 0)
    if fsp % 2 == 1:
        v *= 10  # decoder divides odd-fsp values by 10
    return v.to_bytes(nbytes, "big")


def _encode_new_decimal(value: str, metadata: int) -> bytes:
    """Inverse of codec._decode_new_decimal: exact digit string -> MySQL
    packed decimal (9-digit/4-byte groups, sign-bit flip)."""
    from .codec import DIG2BYTES

    precision = metadata >> 8
    scale = metadata & 0xFF
    intg = precision - scale
    intg0, intg0x = divmod(intg, 9)
    frac0, frac0x = divmod(scale, 9)

    negative = value.startswith("-")
    body = value.lstrip("-")
    int_part, _, frac_part = body.partition(".")
    int_part = (int_part or "0").rjust(intg, "0")[-intg:] if intg else ""
    frac_part = frac_part.ljust(scale, "0")[:scale]

    out = bytearray()
    p = 0
    if intg0x:
        out += int(int_part[:intg0x] or 0).to_bytes(DIG2BYTES[intg0x], "big")
        p = intg0x
    for _ in range(intg0):
        out += int(int_part[p : p + 9] or 0).to_bytes(4, "big")
        p += 9
    p = 0
    for _ in range(frac0):
        out += int(frac_part[p : p + 9] or 0).to_bytes(4, "big")
        p += 9
    if frac0x:
        out += int(frac_part[p : p + frac0x] or 0).to_bytes(
            DIG2BYTES[frac0x], "big")

    if negative:
        for i in range(len(out)):
            out[i] ^= 0xFF
    out[0] ^= 0x80
    return bytes(out)


def _encode_row_image(tm: TableMapSpec, present_cols, values: dict) -> bytes:
    """null-bitmap over present columns + packed non-null cells."""
    present_idx = [i for i, p in enumerate(present_cols) if p]
    nulls = [values.get(tm.col_names[i]) is None for i in present_idx]
    out = bytearray(_bitmap_bytes(nulls, len(present_idx)))
    for i in present_idx:
        name, typ, meta, uns = tm.columns[i]
        v = values.get(name)
        if v is not None:
            out += encode_cell(typ, meta, uns, v)
    return bytes(out)


def make_rows_event(tm: TableMapSpec, table_id: int, event_type: int,
                    rows: list) -> bytes:
    """Encode a v2 WRITE/UPDATE/DELETE_ROWS payload.

    ``rows`` is a list of ``(identify_values, data_values)`` dicts keyed by
    column name (``None`` image omitted per event type; a key missing from
    the dict of *columns marked present* means SQL NULL). Column presence
    bitmaps are derived from the union of keys across rows — absent columns
    model the minimal row image (``IsEmpty`` in the reference).
    """
    has_identify = event_type in C.UPDATE_ROWS_TYPES or event_type in C.DELETE_ROWS_TYPES
    has_data = event_type in C.WRITE_ROWS_TYPES or event_type in C.UPDATE_ROWS_TYPES

    ncols = len(tm.columns)
    identify_present = [False] * ncols
    data_present = [False] * ncols
    for ident, data_vals in rows:
        if has_identify and ident:
            for i, n in enumerate(tm.col_names):
                if n in ident:
                    identify_present[i] = True
        if has_data and data_vals:
            for i, n in enumerate(tm.col_names):
                if n in data_vals:
                    data_present[i] = True

    out = bytearray()
    out += table_id.to_bytes(6, "little")
    out += struct.pack("<H", 1)  # rows flags
    out += struct.pack("<H", 2)  # v2 extra-data length (includes itself)
    out += bytes([ncols])  # len-enc column count (< 251)
    if has_identify:
        out += _bitmap_bytes(identify_present, ncols)
    if has_data:
        out += _bitmap_bytes(data_present, ncols)
    for ident, data_vals in rows:
        if has_identify:
            out += _encode_row_image(tm, identify_present, ident or {})
        if has_data:
            out += _encode_row_image(tm, data_present, data_vals or {})
    return bytes(out)


# ---------------------------------------------------------------------------
# parsing (event-level; cells handled by codec)
# ---------------------------------------------------------------------------


def is_valid_frame(buf) -> bool:
    """Bounds check (parity: binlog_event_common.go:34-53)."""
    if len(buf) < C.HEADER_LEN:
        return False
    ev_len = struct.unpack_from("<I", buf, 9)[0]
    return ev_len >= C.HEADER_LEN and ev_len == len(buf)


def parse_header(buf):
    """-> (timestamp, type, server_id, length, next_position, flags)."""
    ts, typ, sid, length = struct.unpack_from("<IBII", buf, 0)
    next_pos, flags = struct.unpack_from("<IH", buf, 13)
    return ts, typ, sid, length, next_pos, flags


def strip_checksum(fmt: BinlogFormat, typ: int, buf: bytes) -> bytes:
    """Drop the trailing CRC32 without verifying it (same trade-off as the
    reference: row_streamer.go:163-167)."""
    if typ == C.E_FORMAT_DESCRIPTION:
        return buf  # format itself handled by parse_format_description
    if fmt.checksum_algorithm == C.CHECKSUM_ALG_CRC32:
        return buf[:-4]
    return buf


def parse_format_description(buf) -> BinlogFormat:
    data = buf[C.HEADER_LEN :]
    fv = struct.unpack_from("<H", data, 0)[0]
    if fv != 4:
        raise ValueError(f"unsupported binlog format version {fv}")
    server_version = bytes(data[2:52]).rstrip(b"\x00").decode()
    header_length = data[56]
    checksum_alg = data[len(data) - 5]
    header_sizes = bytes(data[57 : len(data) - 5])
    return BinlogFormat(fv, server_version, header_length, checksum_alg, header_sizes)


def parse_rotate(fmt: BinlogFormat, data) -> tuple:
    body = data[fmt.header_length :]
    return bytes(body[8:]).decode(), struct.unpack_from("<Q", body, 0)[0]


def parse_query(fmt: BinlogFormat, data) -> tuple:
    """-> (database, sql). Status vars skipped (only the DB/SQL are consumed
    by the pipeline; parity: binlog_event_common.go:220-287)."""
    body = data[fmt.header_length :]
    db_len = body[8]
    vars_len = struct.unpack_from("<H", body, 11)[0]
    db_pos = 13 + vars_len
    sql_pos = db_pos + db_len + 1
    if sql_pos > len(body):
        raise ValueError("SQL query position overflows buffer")
    return (
        bytes(body[db_pos : db_pos + db_len]).decode(),
        bytes(body[sql_pos:]).decode("utf-8", errors="replace"),
    )


def parse_table_id(fmt: BinlogFormat, typ: int, data) -> int:
    pos = fmt.header_length
    if fmt.header_size(typ) == 6:
        return struct.unpack_from("<I", data, pos)[0]
    return int.from_bytes(data[pos : pos + 6], "little")


@dataclass
class ParsedTableMap:
    table_id: int
    database: str
    name: str
    types: list
    metadata: list
    can_be_null: bytes = b""


def parse_table_map(fmt: BinlogFormat, data) -> ParsedTableMap:
    body = data[fmt.header_length :]
    pos = 6 if fmt.header_size(C.E_TABLE_MAP) != 6 else 4
    pos += 2  # flags
    l = body[pos]
    database = bytes(body[pos + 1 : pos + 1 + l]).decode()
    pos += 1 + l + 1
    l = body[pos]
    name = bytes(body[pos + 1 : pos + 1 + l]).decode()
    pos += 1 + l + 1
    ncols, pos = read_lenenc_int(body, pos)
    types = list(body[pos : pos + ncols])
    pos += ncols
    _, pos = read_lenenc_int(body, pos)
    metadata = []
    for t in types:
        m, pos = metadata_read(body, pos, t)
        metadata.append(m)
    nb = (ncols + 7) // 8
    table_id = parse_table_id(fmt, C.E_TABLE_MAP, data)
    return ParsedTableMap(table_id, database, name, types, metadata,
                          bytes(body[pos : pos + nb]))


_IMAGE_DECODER_CACHE: dict = {}


def make_image_decoder(types, metadata, unsigned, names, present_bits: int,
                       collations=None):
    """Build (and cache) a fused row-image decoder for one
    (schema, present-bitmap) signature: ``(body, pos) -> (map, new_pos)``.

    The generated function is straight-line Python — per-column parsing
    inlined in declaration order with no closure dispatch, tuple returns,
    or loop bookkeeping — the same specialization a query engine's codegen
    does for a fixed row layout. Cells: VARCHAR/VARSTRING (1/2-byte len),
    BLOB family, and the integer types inline; every other type goes
    through ``codec.cell_bytes`` (via the column's cached str decoder).
    It has two bodies built from the same arms: an image whose null
    bitmap reads 0 runs the plain one, any other the one that tests each
    column's null bit first (SQL NULL → ``None``).
    UTF-8 decode falls back to lossless latin-1 (codec.to_text contract).
    ``collations``: optional per-column MySQL collation ids; text columns
    with a known non-UTF-8 charset decode at source with the real codec
    (collations.source_codec) instead of the byte-transparent arm.
    """
    from .collations import source_codec
    from .codec import make_cell_str_decoder

    codecs = ([source_codec(c) for c in collations] if collations
              else [None] * len(types))
    key = (tuple(types), tuple(metadata), tuple(unsigned), tuple(names),
           present_bits, tuple(codecs))
    fn = _IMAGE_DECODER_CACHE.get(key)
    if fn is not None:
        return fn

    cols = [c for c in range(len(types)) if present_bits >> c & 1]
    null_nb = (len(cols) + 7) // 8
    ns: dict = {}

    def _text_emit(nm, codec):
        if codec is not None:
            return [f"out[{nm}] = raw.decode({codec!r}, 'replace')"]
        return [f"try: out[{nm}] = raw.decode('utf-8')",
                "except UnicodeDecodeError: "
                f"out[{nm}] = raw.decode('latin-1')"]

    plain, nullable = [], []
    for j, c in enumerate(cols):
        t, m, u, nm = types[c], metadata[c], unsigned[c], repr(names[c])
        if t in (C.TYPE_VARCHAR, C.TYPE_VARSTRING):
            if m > 255:
                arm = ["ln = body[pos] | body[pos+1] << 8",
                       "raw = body[pos+2:pos+2+ln]",
                       "pos += ln + 2"]
            else:
                arm = ["ln = body[pos]",
                       "raw = body[pos+1:pos+1+ln]",
                       "pos += ln + 1"]
            arm += _text_emit(nm, codecs[c])
        elif t in (C.TYPE_TINYBLOB, C.TYPE_MEDIUMBLOB, C.TYPE_LONGBLOB,
                   C.TYPE_BLOB, C.TYPE_GEOMETRY) and 1 <= m <= 4:
            arm = [f"ln = int.from_bytes(body[pos:pos+{m}], 'little')",
                   f"raw = body[pos+{m}:pos+{m}+ln]",
                   f"pos += ln + {m}"]
            arm += _text_emit(nm, codecs[c] if t != C.TYPE_GEOMETRY
                              else None)
        elif t in (C.TYPE_TINY, C.TYPE_SHORT, C.TYPE_INT24, C.TYPE_LONG,
                   C.TYPE_LONGLONG):
            w = {C.TYPE_TINY: 1, C.TYPE_SHORT: 2, C.TYPE_INT24: 3,
                 C.TYPE_LONG: 4, C.TYPE_LONGLONG: 8}[t]
            arm = [f"v = int.from_bytes(body[pos:pos+{w}], 'little')"]
            if not u:
                half, full = 1 << (8 * w - 1), 1 << (8 * w)
                arm.append(f"v -= {full} if v >= {half} else 0")
            arm += [f"out[{nm}] = '%d' % v", f"pos += {w}"]
        else:
            ns[f"_d{j}"] = make_cell_str_decoder(t, m, u, codec=codecs[c])
            arm = [f"out[{nm}], ln = _d{j}(body, pos)",
                   "pos += ln"]
        plain += arm
        nullable += [f"if nulls >> {j} & 1: out[{nm}] = None",
                     "else:"] + ["    " + a for a in arm]

    L = ["def _img(body, pos):"]
    if null_nb == 1:
        L.append("    nulls = body[pos]")
    else:
        L.append(f"    nulls = int.from_bytes(body[pos:pos+{null_nb}], "
                 "'little')")
    L += [f"    pos += {null_nb}",
          "    out = {}",
          "    if not nulls:"]
    L += ["        " + a for a in plain or ["pass"]]
    L.append("    else:")
    L += ["        " + a for a in nullable or ["pass"]]
    L.append("    return out, pos")
    exec("\n".join(L), ns)  # noqa: S102 — codegen over repr()-escaped names
    fn = _IMAGE_DECODER_CACHE[key] = ns["_img"]
    return fn


# dead-letter reason for a rows event none of whose images has a present
# column yet whose body goes on past the bitmaps: each image is zero
# bytes wide, so no row can be read from it
NO_PRESENT_COLUMNS = "rows event with no present columns"


def read_row_maps(fmt: BinlogFormat, typ: int, data, types, metadata,
                  unsigned, names, collations=None):
    """All ``(before_map, after_map)`` rows of a ROWS event — the scalar
    decode kernel, or None when the event has no present column but body
    bytes remain (``NO_PRESENT_COLUMNS``).

    Each image is decoded straight into the ``{column_name:
    canonical_str | None}`` map the change schema carries (SQL NULL is
    ``None``), with absent columns (minimal row image / ``IsEmpty``)
    omitted; wire semantics as binlog_event_rbr.go:348-465 +
    row_streamer.go:388-477. Image decoders are exec-generated per
    (schema, present-bitmap) (``make_image_decoder``). Returns a list
    (events are bounded by the wire's event-size cap, so materializing is
    cheap) — a plain loop over a list avoids the generator frame
    switching that showed up in decode profiles."""
    body = data[fmt.header_length :]
    has_identify = typ in C.UPDATE_ROWS_TYPES or typ in C.DELETE_ROWS_TYPES
    has_data = typ in C.WRITE_ROWS_TYPES or typ in C.UPDATE_ROWS_TYPES

    pos = 6 if fmt.header_size(typ) != 6 else 4
    pos += 2  # flags
    if typ in C.ROWS_V2_TYPES:
        extra_len = struct.unpack_from("<H", body, pos)[0]
        pos += extra_len
    ncols, pos = read_lenenc_int(body, pos)
    nb = (ncols + 7) // 8
    mask = (1 << ncols) - 1

    identify_dec = data_dec = None
    ident_bits = data_bits = 0
    if has_identify:
        ident_bits = int.from_bytes(body[pos : pos + nb], "little") & mask
        pos += nb
        identify_dec = make_image_decoder(types, metadata, unsigned, names,
                                          ident_bits, collations)
    if has_data:
        data_bits = int.from_bytes(body[pos : pos + nb], "little") & mask
        pos += nb
        data_dec = make_image_decoder(types, metadata, unsigned, names,
                                      data_bits, collations)

    end = len(body)
    if not (ident_bits | data_bits) and pos < end:
        return None
    out = []
    append = out.append
    if has_identify and has_data:  # UPDATE
        while pos < end:
            ident, pos = identify_dec(body, pos)
            dat, pos = data_dec(body, pos)
            append((ident, dat))
    elif has_data:  # WRITE
        while pos < end:
            dat, pos = data_dec(body, pos)
            append((None, dat))
    else:  # DELETE
        while pos < end:
            ident, pos = identify_dec(body, pos)
            append((ident, None))
    return out

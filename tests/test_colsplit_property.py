"""Property-based cross-check: columnar splitter == scalar kernel.

Hypothesis drives randomized schemas (mixed fixed-width / length-prefixed
/ packed-temporal / decimal columns), randomized row images (independent
per-column omission exercises both the presence bitmaps and per-row NULL
bitmaps), and all three ROWS event types through the wire encoder, then
asserts the batch-vectorized Arrow decoder (`operators/colsplit.py`) and
the scalar pandas kernel (`operators/decode.py`) produce identical
change rows, and that the scalar kernel's generated image decoders
(`wire/events.py` ``read_row_maps``) match a cell-by-cell walk over
``codec.cell_bytes``. The golden corpus pins known-tricky cases; this
pins the combinatorial space between them.
"""

import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binlog_spark.wire import constants as C  # noqa: E402
from binlog_spark.wire import events as E  # noqa: E402
from binlog_spark.wire.codec import (  # noqa: E402
    cell_bytes, read_lenenc_int, to_text)
from tests.test_colsplit import _custom_world, cross_check  # noqa: E402

# (name-prefix, type, metadata, unsigned, value-strategy)
_D = st.integers(1, 28)
_MO = st.integers(1, 12)
_H = st.integers(0, 23)
_MS = st.integers(0, 59)


def _date():
    return st.tuples(st.integers(1000, 9999), _MO, _D).map(
        lambda t: f"{t[0]:04d}-{t[1]:02d}-{t[2]:02d}")


def _hms(hours=_H):
    return st.tuples(hours, _MS, _MS).map(
        lambda t: f"{t[0]:02d}:{t[1]:02d}:{t[2]:02d}")


def _frac(fsp):
    if fsp == 0:
        return st.just("")
    return st.integers(0, 10 ** fsp - 1).map(
        lambda v: "." + str(v).zfill(fsp))


def _with_frac(base, fsp):
    return st.tuples(base, _frac(fsp)).map(lambda t: t[0] + t[1])


def _signed_time(fsp):
    body = _with_frac(_hms(st.integers(0, 838)), fsp)
    return st.tuples(st.booleans(), body).map(
        lambda t: ("-" if t[0] and not t[1].startswith("00:00:00")
                   else "") + t[1])


def _decimal(precision, scale):
    lo = -(10 ** precision - 1)
    return st.integers(lo, -lo).map(
        lambda v: f"{'-' if v < 0 else ''}{abs(v) // 10**scale}"
                  f".{abs(v) % 10**scale:0{scale}d}" if scale
        else str(v))


_ASCII = st.text(
    st.characters(min_codepoint=32, max_codepoint=126), max_size=40)

_COLUMN_TEMPLATES = [
    ("tiny", C.TYPE_TINY, 0, False, st.integers(-128, 127).map(str)),
    ("utiny", C.TYPE_TINY, 0, True, st.integers(0, 255).map(str)),
    ("short", C.TYPE_SHORT, 0, False, st.integers(-2**15, 2**15 - 1).map(str)),
    ("int24", C.TYPE_INT24, 0, False, st.integers(-2**23, 2**23 - 1).map(str)),
    ("long", C.TYPE_LONG, 0, False, st.integers(-2**31, 2**31 - 1).map(str)),
    ("ulong", C.TYPE_LONG, 0, True, st.integers(0, 2**32 - 1).map(str)),
    ("bigint", C.TYPE_LONGLONG, 0, False,
     st.integers(-2**63, 2**63 - 1).map(str)),
    ("ubigint", C.TYPE_LONGLONG, 0, True,
     st.integers(0, 2**64 - 1).map(str)),
    ("year", C.TYPE_YEAR, 0, False,
     st.one_of(st.just(0), st.integers(1901, 2155)).map(str)),
    ("flt", C.TYPE_FLOAT, 0, False,
     st.floats(width=32, allow_nan=False, allow_infinity=False).map(repr)),
    ("dbl", C.TYPE_DOUBLE, 0, False,
     st.floats(allow_nan=False, allow_infinity=False).map(repr)),
    ("ts", C.TYPE_TIMESTAMP, 0, False, st.integers(0, 2**32 - 1).map(str)),
    ("dt", C.TYPE_DATE, 0, False, _date()),
    ("tm", C.TYPE_TIME, 0, False, _signed_time(0).map(
        lambda s: s.split(".")[0])),
    ("dtt", C.TYPE_DATETIME, 0, False,
     st.tuples(_date(), _hms()).map(lambda t: f"{t[0]} {t[1]}")),
    ("vc1", C.TYPE_VARCHAR, 80, False, _ASCII),
    ("vc2", C.TYPE_VARCHAR, 300, False, _ASCII),
    ("blob", C.TYPE_BLOB, 2, False, _ASCII),
    ("ts2", C.TYPE_TIMESTAMP2, 3, False,
     _with_frac(st.integers(0, 2**32 - 1).map(str), 3)),
    ("dt2", C.TYPE_DATETIME2, 6, False,
     _with_frac(st.tuples(_date(), _hms()).map(
         lambda t: f"{t[0]} {t[1]}"), 6)),
    ("tm2", C.TYPE_TIME2, 3, False, _signed_time(3)),
    ("dec", C.TYPE_NEWDECIMAL, (12 << 8) | 4, False, _decimal(8, 4)),
]


# the templates the columnar kernel decodes in the wave
_COLUMNAR = [t for t in _COLUMN_TEMPLATES if t[1] in (
    C.TYPE_TINY, C.TYPE_SHORT, C.TYPE_INT24, C.TYPE_LONG, C.TYPE_LONGLONG,
    C.TYPE_VARCHAR, C.TYPE_BLOB)]


@st.composite
def _world(draw, templates, max_cols):
    # the width first, so wide worlds are drawn as often as narrow ones
    ncols = draw(st.integers(1, max_cols))
    idxs = draw(st.lists(st.integers(0, len(templates) - 1),
                         min_size=ncols, max_size=ncols))
    cols, val_strats = [], []
    for j, i in enumerate(idxs):
        prefix, typ, meta, unsigned, vs = templates[i]
        cols.append((f"{prefix}{j}", typ, meta, unsigned))
        val_strats.append(vs)

    def image():
        # per-column: absent (NULL / minimal image) or a drawn value
        return {cols[j][0]: draw(val_strats[j])
                for j in range(len(cols)) if draw(st.booleans())}

    events = []
    for _ in range(draw(st.integers(1, 3))):
        et = draw(st.sampled_from(
            [C.E_WRITE_ROWS_V2, C.E_UPDATE_ROWS_V2, C.E_DELETE_ROWS_V2]))
        rows = []
        for _ in range(draw(st.integers(1, 5))):
            if et == C.E_UPDATE_ROWS_V2:
                rows.append((image(), image()))
            elif et == C.E_DELETE_ROWS_V2:
                rows.append((image(), None))
            else:
                rows.append((None, image()))
        events.append((et, rows))
    return cols, events


@settings(max_examples=250, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_world(_COLUMN_TEMPLATES, 6))
def test_columnar_matches_scalar_on_random_worlds(world):
    cols, events = world
    frames, registry = _custom_world(cols, events)
    cross_check(frames, registry)


@settings(max_examples=100, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_world(_COLUMNAR, 70))
def test_columnar_matches_scalar_on_wide_columnar_worlds(world):
    """Up to 70 columns of wave-decoded types: multi-byte null bitmaps."""
    cols, events = world
    frames, registry = _custom_world(cols, events)
    cross_check(frames, registry)


def _walk_rows(body, etype, cols):
    """``(before, after)`` maps of a ROWS event body, read image by image:
    each image's null bitmap, then every present non-NULL cell through
    ``cell_bytes`` + ``to_text``."""
    pos = C.HEADER_LEN + 6 + 2  # table id, rows flags
    pos += int.from_bytes(body[pos:pos + 2], "little")  # v2 extra data
    ncols, pos = read_lenenc_int(body, pos)
    nb = (ncols + 7) // 8
    images = []
    for has in (etype != C.E_WRITE_ROWS_V2, etype != C.E_DELETE_ROWS_V2):
        if has:
            bits = int.from_bytes(body[pos:pos + nb], "little")
            images.append([c for c in range(ncols) if bits >> c & 1])
            pos += nb
        else:
            images.append(None)
    rows = []
    while pos < len(body):
        row = []
        for present in images:
            if present is None:
                row.append(None)
                continue
            null_nb = (len(present) + 7) // 8
            nulls = int.from_bytes(body[pos:pos + null_nb], "little")
            pos += null_nb
            image = {}
            for j, c in enumerate(present):
                name, typ, meta, unsigned = cols[c]
                if nulls >> j & 1:
                    image[name] = None
                    continue
                raw, ln = cell_bytes(body, pos, typ, meta, unsigned)
                image[name] = to_text(raw)
                pos += ln
            row.append(image)
        rows.append(tuple(row))
    return rows


@settings(max_examples=100, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_world(_COLUMN_TEMPLATES, 20))
def test_image_decoders_match_cell_by_cell_walk(world):
    """The generated image decoders against an oracle that shares none of
    their code: up to 20 columns of every template, so multi-byte null
    bitmaps and NULL cells in every column type."""
    cols, events = world
    frames, _ = _custom_world(cols, events)
    fmt = E.BinlogFormat()
    names, types, metas, unsigned = (list(x) for x in zip(*cols))
    n = 0
    for _, _, etype, frame in frames:
        if etype not in C.ROWS_EVENT_TYPES:
            continue
        body = E.strip_checksum(fmt, etype, frame)
        want = _walk_rows(body, etype, cols)
        assert E.read_row_maps(fmt, etype, body, types, metas, unsigned,
                               names) == want
        n += len(want)
    # an event whose images are all empty has no row bytes at all
    assert n == sum(len(rows) for _, rows in events
                    if any(image for row in rows for image in row))

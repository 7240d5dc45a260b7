"""Property-based cross-check: columnar splitter == decode oracle.

Hypothesis drives randomized schemas (mixed fixed-width / length-prefixed
/ packed-temporal / decimal columns), randomized row images (independent
per-column omission exercises both the presence bitmaps and per-row NULL
bitmaps), and all three ROWS event types through the wire encoder, then
asserts the batch-vectorized Arrow decoder (`operators/colsplit.py`) and
the cell-by-cell walk over ``codec.cell_bytes`` (`tests/decode_oracle.py`)
produce identical change rows. The golden corpus pins known-tricky cases;
this pins the combinatorial space between them.
"""

import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binlog_spark.wire import constants as C  # noqa: E402
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



@st.composite
def _world(draw, templates, max_cols):
    # the width first, so wide worlds are drawn as often as narrow ones
    ncols = draw(st.integers(1, max_cols))
    idxs = draw(st.lists(st.integers(0, len(templates) - 1),
                         min_size=ncols, max_size=ncols))
    cols, val_strats = [], []
    for j, i in enumerate(idxs):
        prefix, typ, meta, unsigned, vs = templates[i]
        # the "_" keeps names distinct ("tm2" 9 vs "tm" 29)
        cols.append((f"{prefix}_{j}", typ, meta, unsigned))
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
@given(_world(_COLUMN_TEMPLATES, 70))
def test_columnar_matches_scalar_on_wide_columnar_worlds(world):
    """Up to 70 columns of every template: multi-byte null bitmaps."""
    cols, events = world
    frames, registry = _custom_world(cols, events)
    cross_check(frames, registry)


@settings(max_examples=100, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_world(_COLUMN_TEMPLATES, 20))
def test_columnar_matches_oracle_on_20_column_worlds(world):
    """Up to 20 columns of every template: multi-byte null bitmaps and
    NULL cells in every column type."""
    cols, events = world
    frames, registry = _custom_world(cols, events)
    cross_check(frames, registry)

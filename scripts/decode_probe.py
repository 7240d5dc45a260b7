#!/usr/bin/env python
"""Rows-event decode rate of ``colsplit.decode_batch_arrow``, per schema.

Builds one Arrow batch per world: a FORMAT_DESCRIPTION, a TABLE_MAP and
400 WRITE_ROWS events of 20 rows (8,000 rows), and times the decode of
the whole batch in-process (no Spark session). Every world has INT,
VARCHAR(80), unsigned BIGINT and BLOB columns; the others add

* ``+ DATETIME2``: a DATETIME2 column;
* ``+ DATETIME2, VARCHAR NULL``: the same, with the VARCHAR NULL in every
  row;
* ``+ NEWDECIMAL + DATETIME2``: a DECIMAL(12,4) and a DATETIME2 column.

The decode context is built once per world and warmed by one decode, as
in a decode task that meets the same schema in every batch.

Usage: python scripts/decode_probe.py [checkout] [best_of]
``checkout`` is the repository whose ``binlog_spark`` is measured
(default: this one), so two checkouts can be run alternately on one
host. Prints one line per world: best-of-``best_of`` (default 7) rows/s.
"""

from __future__ import annotations

import os
import random
import struct
import sys
import time

N_EVENTS, ROWS_PER_EVENT = 400, 20


def _worlds(C):
    base = [("id", C.TYPE_LONG, 0, False),
            ("name", C.TYPE_VARCHAR, 80, False),
            ("big", C.TYPE_LONGLONG, 0, True),
            ("body", C.TYPE_BLOB, 2, False)]
    dt2 = ("seen", C.TYPE_DATETIME2, 0, False)
    dec = ("price", C.TYPE_NEWDECIMAL, (12 << 8) | 4, False)
    return [("the wave", base, False),
            ("+ DATETIME2", base + [dt2], False),
            ("+ DATETIME2, VARCHAR NULL", base + [dt2], True),
            ("+ NEWDECIMAL + DATETIME2", base + [dec, dt2], False)]


def _value(rng, typ, C):
    if typ == C.TYPE_LONG:
        return str(rng.randrange(-2**31, 2**31))
    if typ == C.TYPE_LONGLONG:
        return str(rng.randrange(2**64))
    if typ in (C.TYPE_VARCHAR, C.TYPE_BLOB):
        return "".join(rng.choice("abcdefghij/.") for _ in range(
            rng.randrange(8, 60)))
    if typ == C.TYPE_DATETIME2:
        return (f"{rng.randrange(1970, 2038):04d}-{rng.randrange(1, 13):02d}"
                f"-{rng.randrange(1, 29):02d} {rng.randrange(24):02d}:"
                f"{rng.randrange(60):02d}:{rng.randrange(60):02d}")
    v = rng.randrange(-10**12 + 1, 10**12)  # DECIMAL(12,4)
    return f"{'-' if v < 0 else ''}{abs(v) // 10**4}.{abs(v) % 10**4:04d}"


def _batch(columns, null_name, E, C):
    import pyarrow as pa

    rng = random.Random(16)
    fmt = E.BinlogFormat()
    spec = E.TableMapSpec(database="d1", name="t1", columns=columns)
    payloads = [(C.E_FORMAT_DESCRIPTION, E.make_format_description(fmt)),
                (C.E_TABLE_MAP, E.make_table_map(spec, 77))]
    for _ in range(N_EVENTS):
        rows = [(None, {n: None if null_name and n == "name"
                        else _value(rng, t, C) for n, t, _, _ in columns})
                for _ in range(ROWS_PER_EVENT)]
        payloads.append((C.E_WRITE_ROWS_V2, E.make_rows_event(
            spec, 77, C.E_WRITE_ROWS_V2, rows)))
    pos, cols = 4, ([], [], [], [])
    for etype, payload in payloads:
        frame = bytearray(E.packetize(fmt, etype, 0, payload,
                                      timestamp=1700000000, server_id=1,
                                      log_position=0))
        struct.pack_into("<I", frame, 13, pos + len(frame))
        for col, v in zip(cols, ("binlog.000001", pos, etype, bytes(frame))):
            col.append(v)
        pos += len(frame)
    registry = {("d1", "t1"): [[(n, u) for n, _, _, u in columns]]}
    batch = pa.RecordBatch.from_arrays(
        [pa.array(cols[0]), pa.array(cols[1], pa.int64()),
         pa.array(cols[2], pa.int32()), pa.array(cols[3], pa.binary())],
        names=["file", "pos", "etype", "frame"])
    return batch, registry


def main(argv):
    checkout = os.path.abspath(argv[1] if len(argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".."))
    best_of = int(argv[2]) if len(argv) > 2 else 7
    sys.path.insert(0, checkout)
    from binlog_spark.operators import colsplit as CS
    from binlog_spark.operators import decode as D
    from binlog_spark.wire import constants as C
    from binlog_spark.wire import events as E

    print(f"decode_batch_arrow, {checkout}, "
          f"{N_EVENTS * ROWS_PER_EVENT} rows, best of {best_of}")
    for name, columns, null_name in _worlds(C):
        batch, registry = _batch(columns, null_name, E, C)
        ctx = D.build_decode_context(
            {"checksum_alg": C.CHECKSUM_ALG_CRC32, "table_maps": {}},
            registry)
        n = sum(rb.num_rows for rb in CS.decode_batch_arrow(batch, ctx))
        assert n == N_EVENTS * ROWS_PER_EVENT, (name, n)
        best = float("inf")
        for _ in range(best_of):
            t0 = time.perf_counter()
            for _ in CS.decode_batch_arrow(batch, ctx):
                pass
            best = min(best, time.perf_counter() - t0)
        print(f"{name:<28} {n / best:>10,.0f} rows/s")


if __name__ == "__main__":
    main(sys.argv)

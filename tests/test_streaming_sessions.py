"""Native event-time sessions (``streaming.windows.activity_sessions``).

One streaming run covers every session rule: state carried across
microbatches, a gap split inside one batch, the inclusive gap boundary,
an out-of-order bridge, multiplicity, and an open session that never
emits. Files are fed one per restart on a shared checkpoint (the
``cdc_tws_event_sessions`` driver); their mtimes DECREASE, so the batch
order shown here comes from the driver, not from the file source's
mtime sort."""

import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binlog_spark.streaming.windows import activity_sessions  # noqa: E402

T0 = 1_700_000_000_000_000  # us
MIN = 60 * 1_000_000


def ms(us):
    return us // 1000


def _write(d, name, rows, mtime):
    table = pa.table(
        {"k": [r[0] for r in rows],
         "ts": pa.array([r[1] for r in rows], type=pa.timestamp("us"))})
    path = os.path.join(d, name)
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))


# one list per microbatch, in driver order
BATCHES = [
    # A: first event; its session continues in the next batch.
    # E: first event, watermark stays at T0.
    [("A", T0), ("E", T0)],
    # A: second event in a later batch, same session (state carries).
    # E: exactly one gap (30 m) after its last event, in a later batch:
    # the boundary is inclusive, so it merges.
    [("A", T0 + 10 * MIN), ("B", T0 + 5 * MIN), ("E", T0 + 30 * MIN)],
    # D: two events more than one gap apart in one batch -> two sessions.
    # F: 25 m from both neighbours, arriving last, bridges them into one.
    # G: five events at the same ts -> one session, n_events == 5.
    # The batch advances the watermark to T0 + 400 m: everything before G
    # closes.
    [("D", T0 + 100 * MIN), ("D", T0 + 200 * MIN),
     ("F", T0 + 300 * MIN), ("F", T0 + 350 * MIN), ("F", T0 + 325 * MIN)]
    + [("G", T0 + 400 * MIN)] * 5,
    # C advances the watermark past G's session; C's own session stays
    # open (nothing ever advances past it) -> must NOT emit.
    [("C", T0 + 500 * MIN)],
    [("C", T0 + 505 * MIN)],
]


def test_sessions_close_on_event_time_timer(spark, tmp_path):
    watch, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(watch)
    now = time.time()
    for i, rows in enumerate(BATCHES):
        _write(watch, f"f{i}.parquet", rows, now - 10 * i)
        stream = spark.readStream.schema("k string, ts timestamp").parquet(
            watch)
        q = (activity_sessions(stream, gap="30 minutes").writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", ckpt).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()

    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    rows = {r[0]: r for r in got}
    assert set(rows) == {"A", "B", "D", "E", "F", "G"}, got
    a, b = rows["A"], rows["B"]
    assert a[3] == 2
    assert a[1] == ms(T0)
    assert a[2] == ms(T0 + 10 * MIN)
    assert b[3] == 1
    assert b[1] == b[2] == ms(T0 + 5 * MIN)
    assert [r for r in got if r[0] != "A" and r[0] != "B"] == [
        ("D", ms(T0 + 100 * MIN), ms(T0 + 100 * MIN), 1),
        ("D", ms(T0 + 200 * MIN), ms(T0 + 200 * MIN), 1),
        ("E", ms(T0), ms(T0 + 30 * MIN), 2),
        ("F", ms(T0 + 300 * MIN), ms(T0 + 350 * MIN), 3),
        ("G", ms(T0 + 400 * MIN), ms(T0 + 400 * MIN), 5),
    ]

"""Event-time windows and sessions with watermark-driven late-data drop.

SURVEY §2.2 streaming rows: the reference has no watermarks (strict
total order by (file, pos)); the engine's CDC path gets the equivalent
protection from the GTID high-water mark (operators/merge.py). This
module is the general event-time surface for DERIVED streams (metrics,
rollups over the change feed): built-in ``withWatermark`` + ``window``
or ``session_window`` — state is bounded because windows older than the
watermark finalize and are evicted, and rows arriving later than the
allowed lateness are dropped, exactly the Structured Streaming contract
a 1000-executor deployment relies on for unbounded-source aggregations.
Both operators run inside the JVM: no Python worker, no state protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(stream: DataFrame, ts_col: str = "ts",
                    window: str = "1 hour",
                    watermark: str = "30 minutes") -> DataFrame:
    """Per-window event counts + value sums over an event-time stream.

    Rows later than ``watermark`` behind the observed max event time are
    dropped (bounded state); identical code runs in batch mode (the
    watermark is a no-op there)."""
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window))
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("sum_value"))
            .select(F.col("window.start").alias("win_start"),
                    "n_events", "sum_value"))


def activity_sessions(stream: DataFrame, gap: str) -> DataFrame:
    """Per-key event-time sessions over columns ``k`` and ``ts``: a
    session is a maximal run of events whose consecutive gaps stay at or
    under ``gap``. In append mode a session emits one row once the
    watermark (the max event time of earlier microbatches) passes its
    last event plus ``gap``; an open session emits nothing."""
    return (stream.withWatermark("ts", "0 seconds")
            .groupBy("k", F.session_window("ts", gap))
            .agg(F.unix_millis(F.min("ts")).alias("session_start_ms"),
                 F.unix_millis(F.max("ts")).alias("session_end_ms"),
                 F.count("*").alias("n_events"))
            .select("k", "session_start_ms", "session_end_ms", "n_events"))


def dedup_within_watermark(stream: DataFrame, keys=("gtid", "seq"),
                           ts_col: str = "ts",
                           watermark: str = "30 minutes") -> DataFrame:
    """Effectively-once from an at-least-once transport: drop redelivered
    change events by identity key, holding dedup state only inside the
    watermark horizon (bounded at any stream length — the knob is the
    redelivery window, not the corpus size).

    The reference's resume token is transaction-granular
    (row_streamer.go:107-118): a restart replays the tail of the last
    transaction, so a downstream consumer sees duplicates. The engine's
    lake path absorbs them with the idempotent MERGE; this is the
    equivalent protection for DERIVED streams that never touch the lake
    (metrics, windowed rollups) — built-in
    ``dropDuplicatesWithinWatermark``, state evicted as event time
    passes key-arrival time + the watermark delay."""
    return (stream.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(keys)))

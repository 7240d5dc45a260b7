"""End-to-end batch replay: frames → decode → transactions → fold → MERGE.

The Spark lifecycle equivalent of the reference's flagship path
(`RowStreamer.Stream`, `/root/reference/row_streamer.go:66-88` — traced in
SURVEY.md §3/E1): one shuffle-free Arrow decode stage, one window shuffle
per binlog file for transaction assembly, one key shuffle for the fold,
and a bucket-pruned copy-on-write MERGE — one shuffle of the folded delta
by bucket, after which each changed bucket is read, merged and written
inside one Arrow task (``LakeTable.merge_job``), so the lake path must be
a POSIX path every executor sees.

A batch runs these Spark actions: schema discovery (unless the meta is
passed in), one summary aggregate over the cached change set, and one
MERGE job per lake with rows in the batch. The summary is the only pass
that reads decode and assembly, it completes the DDL side channel, and
its rows give each lake its change count, its GTID high-water mark and
its lineage record. The fold runs inside the MERGE job, its only
consumer, so the folded delta is never cached or aggregated.
"""

from __future__ import annotations

import re
import time as _time

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schema as S
from .operators.decode import decode_frames, discover_stream_meta
from .operators.lineage import lineage_summary, write_record
from .operators.lww import fold_changes
from .operators.merge import LakeTable
from .operators.transactions import assemble_transactions

# ``ADD [COLUMN] [IF NOT EXISTS] name``; the name may be backquoted
_ADD_COLUMN_RE = re.compile(
    r"alter\s+table\s+(\S+)\s+add\s+(?:column\s+)?"
    r"(?:if\s+not\s+exists\s+)?(`[^`]+`|\w+)", re.IGNORECASE)

# sentinel for replay_batch(stream_meta=...): skip the discovery job and
# let the decode stage self-discover TABLE_MAPs from its own partitions
INLINE_DISCOVERY = "__inline_discovery__"


class _DdlAccum(AccumulatorParam):
    """List accumulator carrying DDL rows out of the decode stage."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def decode_to_changes(spark: SparkSession, frames: DataFrame,
                      registry: dict) -> DataFrame:
    """frames → committed change rows (CHANGE_SCHEMA), GTID-ordered."""
    meta = discover_stream_meta(frames)
    decoded = decode_frames(spark, frames, meta, registry)
    return assemble_transactions(decoded)


def apply_ddls(lake: LakeTable, ddls: list):
    """Iceberg-style in-flight schema evolution from the DDL side channel.

    In a multi-table stream only the lake's own table's ALTERs apply: the
    statement's table token (``tbl`` or ``db.tbl``, optionally quoted)
    must match the lake identity when one is recorded."""
    target = lake.meta.get("table")
    for row in ddls:
        m = _ADD_COLUMN_RE.match(row["sql"].strip())
        if not m:
            continue
        if target is not None:
            db, tbl = target
            token = m.group(1).strip('`"').lower()
            names = {tbl.lower(), f"{db}.{tbl}".lower()}
            if token not in names:
                continue
        lake.evolve_add_column(m.group(2).strip("`"))


def replay_batch(spark: SparkSession, frames: DataFrame, lake: LakeTable,
                 registry: dict, batch_id=None,
                 stream_meta: dict | None = None) -> dict:
    """Decode+apply one (micro)batch of frames into the lake table.

    ``replay_batch_multi`` with the one lake, keyed by the lake manifest's
    recorded ``(db, tbl)`` identity: other tables' change rows in the same
    stream are excluded before the fold (the MERGE idempotency key is
    (gtid, table, row-key) per the north rule — one LakeTable applies one
    table). A lake with no recorded identity applies every change row
    (single-table streams). Returns the lake's merge stats."""
    table = lake.meta.get("table")
    key = tuple(table) if table else None
    return replay_batch_multi(spark, frames, {key: lake}, registry,
                              batch_id=batch_id,
                              stream_meta=stream_meta)[key]


def replay_batch_multi(spark: SparkSession, frames: DataFrame, lakes: dict,
                       registry: dict, batch_id=None,
                       stream_meta: dict | None = None) -> dict:
    """One decode pass fanned out to one or more lake tables.

    ``lakes``: ``{(db, tbl): LakeTable}``; a ``None`` key applies every
    change row to its lake. The stream is decoded and
    transaction-assembled ONCE, then each table's changes fold and MERGE
    into that table's lake — the multi-consumer shape of the reference's
    single callback receiving every table's events
    (`row_streamer.go:33-39`), with per-table exactly-once (each lake
    tracks its own batch ids / GTID watermark) and per-table DDL routing
    (``apply_ddls`` matches the statement's table token against each
    lake's identity). With a ``batch_id``, every lake that applies the
    batch gets its ``_lineage/batch-<id>.json``; a lake that already
    applied it keeps the record it has.

    ``stream_meta``: pass a pre-merged TABLE_MAP index (streaming keeps an
    accumulated one across microbatches) to skip the discovery job.
    ``stream_meta=INLINE_DISCOVERY`` skips the schema-discovery job
    entirely: the decode stage self-discovers TABLE_MAP /
    FORMAT_DESCRIPTION frames from its own partitions (the colsplit
    overlay). Sound whenever decode partitions hold whole binlog files
    or file prefixes — the standard layout (one parquet per binlog
    file) — because a TABLE_MAP physically precedes its ROWS events; a
    rows event whose TABLE_MAP sits in another partition dead-letters
    rather than mis-decoding. One fewer Spark job per batch.

    Returns ``{key: merge_stats}``."""
    # Spark actions per batch, everything else pipelined inside them:
    #   1. schema discovery (tiny collect over TABLE_MAP/FORMAT_DESC
    #      frames) — skipped with a passed or inline meta
    #   2. the summary: one small aggregate by (db, tbl, file) over the
    #      cached change set. It materializes decode+assemble into the
    #      cache, completes the DDL accumulator before any lake evolves,
    #      and its rows give each lake its change count, its max gtid
    #      and its lineage record
    #   3. per lake with rows, the MERGE: the fold, one delta shuffle by
    #      bucket, then each changed bucket read, merged and written in
    #      one task
    t_start = _time.perf_counter()
    if stream_meta is INLINE_DISCOVERY:
        meta = {"checksum_alg": 1, "table_maps": {}}
    elif stream_meta is not None:
        meta = stream_meta
    else:
        meta = discover_stream_meta(frames)
    ddl_acc = spark.sparkContext.accumulator([], _DdlAccum())
    decoded = decode_frames(spark, frames, meta, registry, ddl_acc=ddl_acc)
    changes_all = assemble_transactions(decoded).persist()
    try:
        summary = [r.asDict() for r in
                   lineage_summary(changes_all).collect()]
        # dedupe by (file, pos): task retries re-fire accumulator updates
        seen, ddls = set(), []
        for f, p, ts, d, sql, cat in sorted(ddl_acc.value):
            if (f, p) in seen:
                continue
            seen.add((f, p))
            ddls.append({"file": f, "pos": p, "ts": ts,
                         "db": d, "sql": sql, "category": cat})
        out = {}
        for key, lake in lakes.items():
            changes, rows = changes_all, summary
            if key is not None:
                db, tbl = key
                changes = changes.where(
                    (F.col("db") == db) & (F.col("tbl") == tbl))
                rows = [r for r in rows if (r["db"], r["tbl"]) == (db, tbl)]
            n_changes = sum(r["n_changes"] for r in rows)
            max_gtid = max((r["max_gtid"] for r in rows), default=None)
            apply_ddls(lake, ddls)
            stats = lake.merge_apply(
                fold_changes(changes, tuple(lake.meta["key"])),
                batch_id=batch_id, max_gtid=max_gtid,
                changed_buckets=None if rows else [])
            stats["n_changes"] = n_changes
            stats["n_ddls"] = len(ddls)
            if batch_id is not None and not stats["skipped"]:
                secs = _time.perf_counter() - t_start
                write_record(lake.path, batch_id, rows, metrics={
                    "n_changes": n_changes, "n_ddls": len(ddls),
                    "buckets_rewritten": stats["buckets_rewritten"],
                    "rows_written": stats["rows_written"],
                    "seconds": round(secs, 3),
                    "events_per_sec": (round(n_changes / secs, 1)
                                       if secs else None),
                })
            out[key] = stats
        return out
    finally:
        changes_all.unpersist()


def read_frames(spark: SparkSession, frames_dir: str) -> DataFrame:
    return spark.read.schema(S.FRAME_SCHEMA).parquet(frames_dir)


def read_frames_from(spark: SparkSession, frames_dir: str,
                     start_file: str, start_pos: int) -> DataFrame:
    """Batch resume cursor — the analogue of the reference's
    COM_BINLOG_DUMP (offset, filename) request (P5,
    dump/packets.go:991-1007) and ``SetStartBinlogPosition``: scan only
    frames at or after the position. Both predicates push down to the
    parquet scan (file names sort chronologically: binlog.NNNNNN)."""
    f = read_frames(spark, frames_dir)
    return f.where(
        (F.col("file") > start_file)
        | ((F.col("file") == start_file) & (F.col("pos") >= start_pos)))


def bootstrap_from_snapshot(spark: SparkSession, snapshot: DataFrame,
                            lake: LakeTable, snapshot_gtid: int,
                            batch_id: str = "bootstrap") -> dict:
    """Initial load, then stream — the Debezium/DMS bootstrap mode the
    reference leaves to its consumers (they run `SHOW MASTER STATUS`,
    dump the table, then Stream from that position —
    /root/reference/example_test.go:76-98 sketches exactly this order).

    ``snapshot`` carries one row per live key with the lake's columns,
    transactionally consistent AS OF ``snapshot_gtid`` (MySQL guarantees
    such a cut under `FLUSH TABLES WITH READ LOCK` / a consistent-read
    dump). Every snapshot row is written stamped ``(_gtid_seq =
    snapshot_gtid, _seq_in_txn = 0)`` and the lake's GTID high-water mark
    advances to the snapshot position, so catch-up replay may start from
    ANY position at or before the snapshot: the overlap — every change
    with gtid ≤ snapshot_gtid, already reflected in the snapshot — is
    dropped wholesale by the watermark guard (tombstone-safe: keys the
    overlap deleted are simply absent from the snapshot and stay absent),
    and everything after applies through the normal LWW merge.

    Implementation is one ``merge_apply`` of the snapshot expressed as a
    full-row folded delta — bootstrap rides the same exactly-once
    bookkeeping (re-delivering the bootstrap batch is a manifest no-op)
    and the same one-shuffle bucketed write as every CDC batch.
    """
    if batch_id in lake.meta["applied_batches"]:
        return {"skipped": True, "batch_id": batch_id}  # crash re-delivery
    if lake.meta["buckets"] or lake.meta["applied_batches"]:
        raise ValueError("bootstrap_from_snapshot requires an empty lake "
                         "(bootstrap is the FIRST batch by definition)")
    cols = lake.meta["columns"]
    key_cols = lake.meta["key"]
    m = F.create_map(*[x for c in cols
                       for x in (F.lit(c), F.col(c).cast("string"))])
    folded = snapshot.select(
        *[F.col(k).cast("string").alias(f"_k_{k}") for k in key_cols],
        F.lit(False).alias("del"), F.lit(True).alias("full"),
        m.alias("m"),
        F.lit(int(snapshot_gtid)).cast("long").alias("g"),
        F.lit(0).cast("int").alias("s"),
        F.lit(1).cast("long").alias("n_events"))
    return lake.merge_apply(folded, batch_id=batch_id,
                            max_gtid=int(snapshot_gtid))

"""End-to-end batch replay: frames → decode → transactions → fold → MERGE.

The Spark lifecycle equivalent of the reference's flagship path
(`RowStreamer.Stream`, `/root/reference/row_streamer.go:66-88` — traced in
SURVEY.md §3/E1): one shuffle-free Arrow stage that decodes each binlog
file and assembles its transactions in the same task, then one shuffle of
the change rows by key bucket feeding the fold and a bucket-pruned
copy-on-write MERGE: one Arrow task folds each key run and reads, merges
and writes each of its changed buckets (``LakeTable.apply_changes``), so
the lake path must be a POSIX path every executor sees.

A batch runs these Spark actions: one summary aggregate over the cached
change set, and one MERGE job per lake with rows in the batch. There is
no schema-discovery job: decode tasks resolve TABLE_MAPs from their own
frames. The summary is the only pass that reads decode and assembly, it
completes the DDL side channel and the decode tasks' report, and its
rows give each lake its change count, its GTID high-water mark and its
lineage record. The fold runs inside the MERGE kernel, its only
consumer, so the folded delta is never shuffled, cached or aggregated.
Only when the report names files a partition did not hold whole do those
files take the window path, decoded under the TABLE_MAP versions the
decode tasks reported, at the cost of a second summary. The bootstrap
snapshot takes the same MERGE job as insert rows.
"""

from __future__ import annotations

import re
import time as _time

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schema as S
from .operators.decode import (
    decode_assembled,
    decode_frames,
    discover_stream_meta,
    merge_stream_meta,
)
from .operators.lineage import lineage_summary, write_record
from .operators.merge import LakeTable
from .operators.transactions import assemble_transactions
from .wire import constants as C

# ``ADD [COLUMN] [IF NOT EXISTS] name``; the name may be backquoted
_ADD_COLUMN_RE = re.compile(
    r"alter\s+table\s+(\S+)\s+add\s+(?:column\s+)?"
    r"(?:if\s+not\s+exists\s+)?(`[^`]+`|\w+)", re.IGNORECASE)


class _DdlAccum(AccumulatorParam):
    """List accumulator carrying side-channel rows out of the decode
    stage: the DDL rows, and the decode tasks' file report."""

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


def _read_report(entries: list):
    """The decode tasks' report → (irregular files, found meta).

    One entry per partition is kept: a retried or recomputed task
    reports again. A file is irregular when more than one partition saw
    it or its partition reported it not ok. The found meta holds every
    TABLE_MAP version the tasks' overlays added and, if any task met a
    FORMAT_DESCRIPTION, the highest checksum algorithm: every frame met
    some task's overlay, so split files are covered too."""
    parts = {e[0]: e[1:] for e in entries}
    seen: dict = {}
    tmaps: dict = {}
    algs = []
    for files, found, found_algs in parts.values():
        for file, _first, _last, ok in files:
            seen.setdefault(file, []).append(ok)
        for file, tid, pos, schema in found:
            tmaps.setdefault((file, tid), []).append((pos, schema))
        algs += found_algs
    irregular = sorted(f for f, oks in seen.items()
                       if len(oks) > 1 or not all(oks))
    found_meta = {"table_maps": tmaps}
    if algs:
        found_meta["checksum_alg"] = max(algs)
    return irregular, found_meta


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

    Decode and assembly run file-locally, one task per partition
    (``decode_assembled``), which is exact for every file a partition
    holds whole, in position order. The tasks report the files they saw;
    a file seen by more than one partition, or out of order, is
    re-assembled by the window path (``decode_frames`` under the
    TABLE_MAP versions the tasks reported, ``assemble_transactions``),
    and the stats count it as ``fallback_files``. Spark splits a parquet
    file larger than its split size (``spark.sql.files.maxPartitionBytes``,
    or less when the input is small against the cores) across partitions
    by row group, so a batch of such files pays for the file-local pass
    and then for the window path on every file.

    ``stream_meta``: the TABLE_MAP index of earlier batches (streaming
    keeps one across microbatches), or None for a self-contained batch.
    The passed dict is extended in place with the versions this batch
    found.

    Returns ``{key: merge_stats}``."""
    # Spark actions per batch, everything else pipelined inside them:
    #   1. the summary: one small aggregate by (db, tbl, file) over the
    #      cached change set. It materializes decode+assemble into the
    #      cache, completes the DDL accumulator before any lake evolves
    #      and the decode tasks' report, and its rows give each lake its
    #      change count, its max gtid and its lineage record
    #   2. only with irregular files: the summary again over the rebuilt
    #      change set, whose window path decodes them under the reported
    #      TABLE_MAP versions
    #   3. per lake with rows, the MERGE: one shuffle of the change rows
    #      by key bucket, then one task folds each key run and reads,
    #      merges and writes each changed bucket
    t_start = _time.perf_counter()
    meta = (stream_meta if stream_meta is not None else
            {"checksum_alg": C.CHECKSUM_ALG_CRC32, "table_maps": {}})
    ddl_acc = spark.sparkContext.accumulator([], _DdlAccum())
    report_acc = spark.sparkContext.accumulator([], _DdlAccum())
    broadcasts: list = []
    changes_all = decode_assembled(spark, frames, meta, registry, ddl_acc,
                                   report_acc, broadcasts).persist()
    try:
        summary = [r.asDict() for r in
                   lineage_summary(changes_all).collect()]
        irregular, found = _read_report(report_acc.value)
        found = merge_stream_meta(meta, found)
        if irregular:
            redo = F.col("file").isin(irregular)
            rebuilt = changes_all.where(~redo).unionByName(
                assemble_transactions(decode_frames(
                    spark, frames.where(redo), found, registry,
                    ddl_acc=ddl_acc, broadcasts=broadcasts)))
            rebuilt.persist()
            summary = [r.asDict() for r in
                       lineage_summary(rebuilt).collect()]
            changes_all.unpersist()
            changes_all = rebuilt
        if stream_meta is not None:
            stream_meta.update(found)
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
            stats = lake.apply_changes(
                changes, batch_id=batch_id, max_gtid=max_gtid,
                changed_buckets=None if rows else [])
            stats["n_changes"] = n_changes
            stats["n_ddls"] = len(ddls)
            stats["fallback_files"] = len(irregular)
            if batch_id is not None and not stats["skipped"]:
                secs = _time.perf_counter() - t_start
                write_record(lake.path, batch_id, rows, metrics={
                    "n_changes": n_changes, "n_ddls": len(ddls),
                    "fallback_files": len(irregular),
                    "buckets_rewritten": stats["buckets_rewritten"],
                    "rows_written": stats["rows_written"],
                    "delta_keys": stats["delta_keys"],
                    "seconds": round(secs, 3),
                    "events_per_sec": (round(n_changes / secs, 1)
                                       if secs else None),
                })
            out[key] = stats
        return out
    finally:
        changes_all.unpersist()
        for bc in broadcasts:
            bc.destroy()


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

    Implementation is one ``apply_changes`` of the snapshot as insert
    change rows (op ``I``, ``after`` every lake column as a string) —
    bootstrap rides the same exactly-once bookkeeping (re-delivering the
    bootstrap batch is a manifest no-op) and the same one-shuffle
    fold + bucketed MERGE job as every CDC batch: one Spark action.
    """
    if batch_id in lake.meta["applied_batches"]:
        return {"skipped": True, "batch_id": batch_id}  # crash re-delivery
    if lake.meta["buckets"] or lake.meta["applied_batches"]:
        raise ValueError("bootstrap_from_snapshot requires an empty lake "
                         "(bootstrap is the FIRST batch by definition)")
    after = F.create_map(*[x for c in lake.meta["columns"]
                           for x in (F.lit(c), F.col(c).cast("string"))])
    changes = snapshot.select(
        F.lit("I").alias("op"),
        F.lit(None).cast("map<string,string>").alias("before"),
        after.alias("after"),
        F.lit(int(snapshot_gtid)).cast("long").alias("gtid_seq"),
        F.lit(0).cast("int").alias("seq_in_txn"))
    return lake.apply_changes(changes, batch_id=batch_id,
                              max_gtid=int(snapshot_gtid))

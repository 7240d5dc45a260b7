"""Structured Streaming CDC apply with checkpointed exactly-once resume.

The streaming analogue of the reference's ``Stream(ctx, sendTransaction)``
loop (`/root/reference/row_streamer.go:66-88`): a file-based frame source
feeds ``foreachBatch``; each microbatch runs decode → transaction assembly
→ fold → idempotent MERGE. Resumability mirrors
``SetStartBinlogPosition``/``NextPosition`` (`row_streamer.go:57-63,86`):

* source offsets live in the Spark streaming checkpoint,
* the lake manifest records applied ``(batch_id)`` and the GTID high-water
  mark — a batch replayed after a crash (offsets committed but sink not,
  or vice versa) is a no-op thanks to the batch-id + row-level guards,
* the TABLE_MAP schema cache is persisted next to the checkpoint (tiny
  JSON) and fed by the decode tasks: each batch decodes with the cache of
  the batches before it, and the TABLE_MAPs its tasks meet are added to
  the cache after the batch, so a rows-event whose TABLE_MAP arrived in
  an earlier microbatch still decodes — the streaming equivalent of the
  reference's per-tableID cache refresh (`row_streamer.go:220-243`).

Microbatches are the tumbling processing-time windows of SURVEY §2.2; the
generator emits whole transactions within one binlog file, and the file
source never splits a file across batches, so transaction boundaries are
batch-internal by construction.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from .. import schema as S
# _merge_meta: the name cdcbench/layers.py imports for its traced copy
from ..operators.decode import merge_stream_meta as _merge_meta  # noqa: F401
from ..operators.merge import LakeTable, write_json_atomic
from ..pipeline import replay_batch, replay_batch_multi
from ..sources.binlog_file import frames_from_binary_df


class _MetaStore:
    """Persisted accumulated stream meta (checksum alg + table-map index)."""

    def __init__(self, path: str):
        self.path = path

    def load(self) -> dict:
        if not os.path.exists(self.path):
            return {"checksum_alg": 1, "table_maps": {}}
        with open(self.path) as f:
            raw = json.load(f)
        tms = {}
        for k, vers in raw["table_maps"].items():
            file, tid = k.rsplit("@", 1)
            tms[(file, int(tid))] = [(p, tuple(s)) for p, s in vers]
        return {"checksum_alg": raw["checksum_alg"], "table_maps": tms}

    def save(self, meta: dict):
        raw = {
            "checksum_alg": meta["checksum_alg"],
            "table_maps": {
                f"{f}@{tid}": [[p, list(s)] for p, s in vers]
                for (f, tid), vers in meta["table_maps"].items()
            },
        }
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        write_json_atomic(self.path, raw)


class _FileOrderGuard:
    """Cross-batch binlog-file order guard.

    Spark's file streaming source lists new files by modification time;
    binlog correctness needs NAME order (file names sort chronologically:
    ``binlog.NNNNNN``). A later-named file applied first would advance
    the lake's GTID watermark and make the earlier file's changes look
    already-applied — silent data loss. The guard persists the highest
    file name applied and fails the microbatch LOUDLY (before any state
    is touched; offsets stay uncommitted) if a batch would go backwards.
    For a source that is genuinely mtime-scrambled, use
    ``run_stream_ordered`` — it ingests by name, immune to mtimes."""

    def __init__(self, path: str):
        self.path = path

    def check_and_advance(self, files, batch_id):
        if not files:
            return
        lo, hi = min(files), max(files)
        prev = None
        if os.path.exists(self.path):
            with open(self.path) as f:
                prev = json.load(f)
        if prev is not None:
            if prev["batch_id"] == batch_id:
                return  # crash re-delivery of the same microbatch: fine
            # equality is a CONTINUATION, not a violation: one logical
            # binlog file legitimately spans several source chunks /
            # microbatches, and a re-delivered equal-name batch is a
            # no-op at the lake (GTID watermark + batch-id guards); only
            # a strictly EARLIER name proves out-of-order delivery
            if lo < prev["max_file"]:
                raise ValueError(
                    f"binlog file order violation: batch contains {lo!r} "
                    f"but {prev['max_file']!r} was already applied — the "
                    "file source delivered files out of name order "
                    "(mtime-scrambled directory?); use run_stream_ordered "
                    "for name-ordered ingestion")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        write_json_atomic(self.path, {"max_file": hi, "batch_id": batch_id})


def _apply(spark: SparkSession, frames, lakes, registry: dict,
           store: _MetaStore, batch_id: str):
    """The per-batch step every driver shares: decode once and apply to
    every lake — ``lakes`` is one lake path or ``{(db, tbl): path}`` —
    with the persisted stream meta, which the replay extends with the
    TABLE_MAPs this batch's decode tasks found; then save it. Manifests
    are re-read per batch: the previous batch may have committed.

    Crash order: the lakes commit before the store is saved. A batch
    re-delivered after a crash between the two is skipped by every lake
    that committed it, but it is decoded again, so the store it saves
    holds that batch's TABLE_MAPs."""
    meta = store.load()
    if isinstance(lakes, dict):
        replay_batch_multi(spark, frames, {
            key: LakeTable(spark, path) for key, path in lakes.items()},
            registry, batch_id=batch_id, stream_meta=meta)
    else:
        replay_batch(spark, frames, LakeTable(spark, lakes), registry,
                     batch_id=batch_id, stream_meta=meta)
    store.save(meta)


def run_stream(spark: SparkSession, source_dir: str, lakes,
               registry: dict, checkpoint_dir: str,
               max_files_per_trigger: int = 1, raw: bool = False):
    """Start the streaming apply; returns the StreamingQuery.

    ``lakes``: one lake path, or ``{(db, tbl): lake_path}`` to fan one
    decode per microbatch out to several tables, each applying only its
    own table's changes. ``source_dir`` holds frame parquet files, or
    with ``raw=True`` a GROWING raw-binlog archive — the deployment where
    the server (or a copy job) keeps dropping completed ``binlog.NNNNNN``
    files into object storage: ``readStream.format("binaryFile")``
    discovers new files via the checkpointed file index and each
    microbatch's blobs split into frames by the shared header-chain
    kernel (``sources/binlog_file.frames_from_binary_df``). One binlog
    file is bounded by ``max_binlog_size`` (1 GiB default), so whole-file
    blobs are a safe executor-memory unit; keep ``max_files_per_trigger``
    small to bound microbatch memory.

    Call ``query.awaitTermination()`` / ``processAllAvailable()`` to drive;
    kill and re-invoke with the same checkpoint_dir to resume: checkpointed
    source offsets plus each lake's batch-id / GTID guards make a
    re-delivered microbatch a per-table no-op. Both sources list new files
    by modification time, so every microbatch first passes the
    ``_FileOrderGuard``, which fails it loudly before any lake's watermark
    advances if files arrive out of name order.
    """
    store = _MetaStore(os.path.join(checkpoint_dir, "table_map_cache.json"))
    guard = _FileOrderGuard(
        os.path.join(checkpoint_dir, "file_order_hwm.json"))

    def apply_batch(batch_df, batch_id: int):
        if raw:
            names = [os.path.basename(r["path"]) for r in
                     batch_df.select("path").collect()]
        else:
            names = [r["file"] for r in
                     batch_df.select("file").distinct().collect()]
        guard.check_and_advance(names, batch_id)
        frames = frames_from_binary_df(batch_df) if raw else batch_df
        prefix = "raw" if raw else "stream"
        _apply(spark, frames, lakes, registry, store, f"{prefix}-{batch_id}")

    if raw:
        # the file streaming source requires an explicit schema; this is
        # binaryFile's fixed one
        stream = (spark.readStream.format("binaryFile")
                  .schema("path string, modificationTime timestamp, "
                          "length long, content binary")
                  .option("maxFilesPerTrigger", max_files_per_trigger)
                  .load(source_dir))
    else:
        stream = (spark.readStream.schema(S.FRAME_SCHEMA)
                  .option("maxFilesPerTrigger", max_files_per_trigger)
                  .parquet(source_dir))
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_ordered(spark: SparkSession, frames_dir: str, lake_path: str,
                       registry: dict, checkpoint_dir: str,
                       max_files_per_trigger: int = 2) -> dict:
    """Name-ordered AvailableNow ingestion: processes every parquet file
    under ``frames_dir`` in LEXICOGRAPHIC order (binlog names sort
    chronologically) in microbatches of ``max_files_per_trigger`` files —
    completely independent of file modification times, which Spark's file
    streaming source uses for ordering and which nothing on a real file
    system guarantees (copies, restores and parallel writers scramble
    them).

    Resume contract: a tiny cursor (last file fully applied) persists in
    ``checkpoint_dir``; batch ids derive from the first FILE NAME of each
    batch, so a crash between lake commit and cursor write re-delivers a
    batch whose id the lake has already applied — a no-op, same
    exactly-once algebra as the checkpointed stream. Returns
    ``{"batches": n, "files": m}``."""
    store = _MetaStore(os.path.join(checkpoint_dir, "table_map_cache.json"))
    cursor_path = os.path.join(checkpoint_dir, "file_cursor.json")
    last = None
    if os.path.exists(cursor_path):
        with open(cursor_path) as f:
            last = json.load(f)["last_file"]
    names = sorted(n for n in os.listdir(frames_dir)
                   if n.endswith(".parquet"))
    todo = [n for n in names if last is None or n > last]
    batches = 0
    for i in range(0, len(todo), max_files_per_trigger):
        chunk = todo[i : i + max_files_per_trigger]
        df = spark.read.schema(S.FRAME_SCHEMA).parquet(
            *[os.path.join(frames_dir, n) for n in chunk])
        _apply(spark, df, lake_path, registry, store, f"ordered-{chunk[0]}")
        os.makedirs(checkpoint_dir, exist_ok=True)
        write_json_atomic(cursor_path, {"last_file": chunk[-1]})
        batches += 1
    return {"batches": batches, "files": len(todo)}

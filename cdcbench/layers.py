"""Layer-by-layer copies of the apply path, for the traced run.

``replay_batch`` and ``run_stream_ordered`` fuse the layers into a few
Spark actions, so the time of one layer cannot be read off them from
outside. The functions here make the same public calls in the same
order, but materialize each layer's output at its boundary (persist, then
one action) inside a span that records wall time, process-tree CPU and
row counts, and tags the layer's Spark jobs for the event-log parser.

They are copies of orchestration, not of logic: every transformation is
the program's own function. The benchmark checks the final lake of every
traced apply against the oracle, so a copy that drifts from the program
fails the run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from binlog_spark import schema as S
from binlog_spark.operators.decode import decode_frames, discover_stream_meta
from binlog_spark.operators.lineage import write_lineage
from binlog_spark.operators.lww import fold_changes
from binlog_spark.operators.merge import LakeTable
from binlog_spark.operators.transactions import assemble_transactions
from binlog_spark.pipeline import _DdlAccum, apply_ddls
from binlog_spark.streaming.pipeline import _merge_meta, _MetaStore

# replay order; ``streaming`` is schema discovery (``discover_stream_meta``)
# plus, for a streamed batch, the driver's cursor and meta-store work
LAYERS = ("sources", "decode", "transactions", "lww", "merge", "lineage",
          "streaming")


class Recorder:
    """Spans of one traced apply, keyed by layer (a layer entered twice,
    like ``streaming``, accumulates)."""

    def __init__(self, spark, tree, rep: str):
        self.sc = spark.sparkContext
        self.tree = tree
        self.rep = rep
        self.layers: dict = {}

    @contextmanager
    def span(self, layer: str):
        rec = self.layers.setdefault(layer, {"wall_s": 0.0, "cpu_s": 0.0})
        self.sc.setJobDescription(f"{layer}#{self.rep}")
        c0, t0 = self.tree.cpu_s(), time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] += time.perf_counter() - t0
            rec["cpu_s"] += self.tree.cpu_s() - c0
            self.sc.setJobDescription(None)


def read_frames_traced(rec: Recorder, read):
    """``sources``: build the frame scan with ``read()`` and cache it."""
    with rec.span("sources") as L:
        frames = read().persist()
        L["rows_in"] = L["rows_out"] = frames.count()
    return frames


def discover_traced(rec: Recorder, frames, merge_into: dict | None = None):
    """``streaming``: schema discovery over the cached frames, merged into
    the accumulated stream meta when one is given. Rows in are frames,
    rows out the table-map schema versions known afterwards."""
    with rec.span("streaming") as L:
        meta = discover_stream_meta(frames)
        if merge_into is not None:
            meta = _merge_meta(merge_into, meta)
        L["rows_in"] = rec.layers["sources"]["rows_out"]
        L["rows_out"] = sum(len(v) for v in meta["table_maps"].values())
    return meta


def replay_batch(spark, frames, lake: LakeTable, registry: dict, batch_id,
                 rec: Recorder, stream_meta: dict | None = None) -> dict:
    """``pipeline.replay_batch`` with ``record_lineage=True``, one layer at
    a time. ``frames`` comes from ``read_frames_traced``."""
    t_start = time.perf_counter()
    n_frames = rec.layers["sources"]["rows_out"]
    decoded = changes = folded = None
    try:
        meta = (stream_meta if stream_meta is not None
                else discover_traced(rec, frames))
        with rec.span("decode") as L:
            ddl_acc = spark.sparkContext.accumulator([], _DdlAccum())
            decoded = decode_frames(spark, frames, meta, registry,
                                    ddl_acc=ddl_acc).persist()
            kinds = {r["kind"]: r["count"] for r in
                     decoded.groupBy("kind").count().collect()}
            L["rows_in"] = n_frames
            L["rows_out"] = sum(kinds.values())
            L["deadletter_frac"] = (kinds.get("deadletter", 0)
                                    / max(L["rows_out"], 1))
            n_decoded_changes = kinds.get("change", 0)

        with rec.span("transactions") as L:
            changes = assemble_transactions(decoded)
            target = lake.meta.get("table")
            if target is not None:
                db, tbl = target
                changes = changes.where((F.col("db") == db)
                                        & (F.col("tbl") == tbl))
            changes.persist()
            L["rows_in"] = n_decoded_changes
            L["rows_out"] = changes.count()
            L["commit_frac"] = L["rows_out"] / max(n_decoded_changes, 1)

        with rec.span("lww") as L:
            folded = lake.bucket_of(
                fold_changes(changes, tuple(lake.meta["key"]))).persist()
            per_bucket = (folded.groupBy("_bucket")
                          .agg(F.sum("n_events").alias("n"),
                               F.max("g").alias("g"),
                               F.count("*").alias("keys")).collect())
            n_changes = sum(r["n"] for r in per_bucket)
            max_gtid = max((r["g"] for r in per_bucket), default=None)
            hwm = lake.meta.get("last_gtid", -1)
            effective = [r for r in per_bucket if r["g"] > hwm]
            L["rows_in"] = rec.layers["transactions"]["rows_out"]
            L["rows_out"] = sum(r["keys"] for r in per_bucket)
            L["fold_ratio"] = L["rows_out"] / max(L["rows_in"], 1)

        with rec.span("merge") as L:
            seen, ddls = set(), []
            for file, pos, ts, db, sql, cat in sorted(ddl_acc.value):
                if (file, pos) in seen:
                    continue
                seen.add((file, pos))
                ddls.append({"file": file, "pos": pos, "ts": ts, "db": db,
                             "sql": sql, "category": cat})
            apply_ddls(lake, ddls)
            stats = lake.merge_apply(
                folded, batch_id=batch_id, max_gtid=max_gtid,
                changed_buckets=[r["_bucket"] for r in effective])
            stats["n_changes"] = n_changes
            stats["n_ddls"] = len(ddls)
            L["rows_in"] = sum(r["keys"] for r in effective)
            L["buckets_rewritten"] = stats.get("buckets_rewritten", 0)

        with rec.span("lineage") as L:
            secs = time.perf_counter() - t_start
            rows = write_lineage(changes, lake.path, batch_id, metrics={
                "n_changes": n_changes, "n_ddls": len(ddls),
                "seconds": round(secs, 3),
                "events_per_sec": (round(n_changes / secs, 1)
                                   if secs else None),
            })
            L["rows_in"] = rec.layers["transactions"]["rows_out"]
            L["rows_out"] = len(rows)
        return stats
    finally:
        for df in (frames, decoded, changes, folded):
            if df is not None:
                df.unpersist()


def run_stream_ordered(spark, frames_dir: str, lake_path: str,
                       registry: dict, checkpoint_dir: str,
                       rec: Recorder) -> dict:
    """``streaming.pipeline.run_stream_ordered``, one layer at a time. The
    benchmark lands one file per call, so the one new file is the one
    microbatch."""
    with rec.span("streaming"):
        store = _MetaStore(os.path.join(checkpoint_dir,
                                        "table_map_cache.json"))
        cursor_path = os.path.join(checkpoint_dir, "file_cursor.json")
        last = None
        if os.path.exists(cursor_path):
            with open(cursor_path) as f:
                last = json.load(f)["last_file"]
        names = sorted(n for n in os.listdir(frames_dir)
                       if n.endswith(".parquet"))
        todo = [n for n in names if last is None or n > last]
    if len(todo) != 1:
        raise RuntimeError(f"expected one new landed file, found {todo}")
    name = todo[0]
    df = read_frames_traced(rec, lambda: spark.read.schema(
        S.FRAME_SCHEMA).parquet(os.path.join(frames_dir, name)))
    with rec.span("streaming"):
        lake = LakeTable(spark, lake_path)
        loaded = store.load()
    meta = discover_traced(rec, df, merge_into=loaded)
    with rec.span("streaming"):
        store.save(meta)
    replay_batch(spark, df, lake, registry, batch_id=f"ordered-{name}",
                 rec=rec, stream_meta=meta)
    with rec.span("streaming"):
        tmp = cursor_path + ".tmp"
        os.makedirs(checkpoint_dir, exist_ok=True)
        with open(tmp, "w") as f:
            json.dump({"last_file": name}, f)
        os.replace(tmp, cursor_path)
    return {"batches": 1, "files": 1}

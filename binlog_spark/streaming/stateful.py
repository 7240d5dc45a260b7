"""Custom stateful streaming operator: running per-key LWW state.

The reference's only cross-event state is the single-threaded txn buffer
+ table-map cache (`/root/reference/row_streamer.go:91-96`); the engine's
``foreachBatch`` MERGE path persists per-key state in the lake manifest.
Beside the built-in watermarked windows and sessions (`windows.py`),
this module adds the second Spark-native state mechanism — a true
``applyInPandasWithState`` operator — for consumers that want the
current LWW winner per key pushed DOWNSTREAM as a stream (e.g. a cache
invalidation feed) without reading the lake: state lives in the
streaming state store (checkpointed, partitioned by key, scales with
shuffle partitions), and each microbatch emits only the keys whose
winner changed.

At 100 TB scale this is the standard keyed-state pattern: state is
sharded by ``key_cols`` across the cluster's state store; per-key state
is O(1) (the current winner), so total state is O(distinct keys) and a
hot key costs no more than a cold one.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_lww(stream: DataFrame, key_cols: tuple, order_cols: tuple,
                value_cols: tuple, key_ddl: str, order_ddl: str,
                value_ddl: str) -> DataFrame:
    """Per-key last-writer-wins over an unbounded stream.

    Keeps the row with the greatest ``order_cols`` tuple per key ACROSS
    microbatches (state store), emits a row per key per batch in which
    its winner changed. ``*_ddl`` are the DDL fragments for the three
    column groups (state schemas are declared, not inferred).
    """
    out_schema = f"{key_ddl}, {order_ddl}, {value_ddl}, n_changes long"
    state_schema = f"{order_ddl}, {value_ddl}, n_changes long"
    n_order = len(order_cols)
    n_value = len(value_cols)
    cols = list(key_cols) + list(order_cols) + list(value_cols)

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = list(state.get)
            best = tuple(st[:n_order])
            value = st[n_order : n_order + n_value]
            n = st[-1]
        else:
            best, value, n = None, None, 0
        changed = False
        for pdf in pdfs:
            for row in pdf[list(order_cols) + list(value_cols)].itertuples(
                    index=False):
                n += 1
                order = tuple(row[:n_order])
                if best is None or order > best:
                    best, value = order, list(row[n_order:])
                    changed = True
        state.update((*best, *value, n))
        if changed:
            yield pd.DataFrame([[*key, *best, *value, n]], columns=cols
                               + ["n_changes"])

    return (stream.groupBy(*key_cols)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update",
                                    GroupStateTimeout.NoTimeout))


def cdc_running_lww(changes: DataFrame,
                    key_cols: tuple = ("repo", "path")) -> DataFrame:
    """LWW winner feed over a CHANGE_SCHEMA stream: key from the row
    images, ordered by (gtid_seq, seq_in_txn), payload = (op, after as
    JSON — map columns are not state-schema types)."""
    from pyspark.sql import functions as F

    from ..operators.lww import with_key

    keyed = (with_key(changes, key_cols)
             .withColumn("after_json", F.to_json("after"))
             .select(*[f"_k_{k}" for k in key_cols], "gtid_seq",
                     "seq_in_txn", "op", "after_json"))
    key_ddl = ", ".join(f"_k_{k} string" for k in key_cols)
    return running_lww(
        keyed,
        tuple(f"_k_{k}" for k in key_cols),
        ("gtid_seq", "seq_in_txn"),
        ("op", "after_json"),
        key_ddl,
        "gtid_seq long, seq_in_txn int",
        "op string, after_json string",
    )


# ---------------------------------------------------------------------------
# Incremental grouped-aggregate maintenance from a changelog across
# microbatches (the streaming form of ``queries.cdc_retract_agg``): the
# per-group SUM/COUNT stays correct under updates, deletes, and group
# migration WITHOUT re-scanning state — each batch emits retract/assert
# deltas against (a) its own internal per-key chain and (b) the stored
# current version of every key it touches, then folds the deltas into
# the aggregate table. This is incremental view maintenance, foreachBatch
# style: state = (per-key current version, per-group aggregate), both
# key-partitioned lake tables at scale.

def retract_deltas(batch, prev, key_col: str, group_col: str,
                   val_col: str, ord_col: str, op_col: str = "op"):
    """(deltas, new_state) for one microbatch.

    ``prev``: the stored current versions — (key, group, val, alive) —
    BEFORE this batch; ``batch``: the changelog rows. Deltas are
    ``(group, dv decimal, dn long)`` ready to fold into the aggregate
    table; ``new_state`` is the post-batch per-key current-version
    upsert (one row per touched key).

    One key shuffle for the in-batch lag window + one key join against
    the touched slice of ``prev`` — per-batch cost ∝ batch, never ∝
    accumulated state."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(key_col).orderBy(ord_col)
    b = (batch
         .withColumn("_pv", F.lag(F.col(val_col)).over(w)
                     .cast("decimal(18,6)"))
         .withColumn("_pg", F.lag(group_col).over(w))
         .withColumn("_palive", F.lag(op_col).over(w) != "D")
         .withColumn("_first", F.lag(ord_col).over(w).isNull()))
    p = prev.select(F.col("key").alias(key_col),
                    F.col("group").alias("_sg"),
                    F.col("val").cast("decimal(18,6)").alias("_sv"),
                    F.col("alive").alias("_salive"))
    b = b.join(p, key_col, "left")
    # predecessor of the batch's FIRST row per key = the stored version
    pred_alive = F.when(F.col("_first"),
                        F.coalesce(F.col("_salive"), F.lit(False))) \
                  .otherwise(F.col("_palive"))
    pred_grp = F.when(F.col("_first"), F.col("_sg")).otherwise(F.col("_pg"))
    pred_val = F.when(F.col("_first"), F.col("_sv")).otherwise(F.col("_pv"))
    v = F.col(val_col).cast("decimal(18,6)")
    cur = F.when(F.col(op_col) != "D",
                 F.struct(F.col(group_col).alias("grp"),
                          v.alias("dv"), F.lit(1).alias("dn")))
    ret = F.when(pred_alive,
                 F.struct(pred_grp.alias("grp"),
                          (-pred_val).alias("dv"),
                          F.lit(-1).alias("dn")))
    deltas = (b.select(F.explode(F.array_compact(F.array(cur, ret)))
                       .alias("d"))
              .groupBy(F.col("d.grp").alias("group"))
              .agg(F.sum("d.dv").alias("dv"),
                   F.sum("d.dn").cast("long").alias("dn")))
    last = F.struct(F.col(group_col), v.alias("v"),
                    (F.col(op_col) != "D").alias("alive"))
    new_state = (b.groupBy(key_col)
                 .agg(F.max_by(last, F.col(ord_col)).alias("r"))
                 .select(F.col(key_col).alias("key"),
                         F.col(f"r.{group_col}").alias("group"),
                         F.col("r.v").alias("val"),
                         F.col("r.alive").alias("alive")))
    return deltas, new_state


def maintain_retract_agg(spark, batches, key_col: str, group_col: str,
                         val_col: str, ord_col: str, op_col: str = "op"):
    """Fold a sequence of microbatch DataFrames into the final grouped
    aggregate via per-batch retraction deltas (the foreachBatch driver a
    production job wraps around :func:`retract_deltas`; state lives in
    dicts here and in key-bucketed lake tables at scale). Returns a
    DataFrame (group, net_sum, n_live) equal to the one-shot batch
    aggregate over the concatenated changelog."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    state: dict = {}   # key -> (group, val, alive)
    agg: dict = {}     # group -> [sum(Decimal), n]
    for batch in batches:
        prev = spark.createDataFrame(
            [(k, g, v, a) for k, (g, v, a) in state.items()] or
            [(None, None, None, None)],
            "key long, group string, val decimal(18,6), alive boolean")
        deltas, new_state = retract_deltas(
            batch, prev, key_col, group_col, val_col, ord_col, op_col)
        for r in deltas.collect():
            s = agg.setdefault(r["group"], [Decimal(0), 0])
            s[0] += r["dv"]
            s[1] += r["dn"]
        for r in new_state.collect():
            state[r["key"]] = (r["group"], r["val"], r["alive"])
    rows = [(g, float(s[0]), s[1]) for g, (s) in agg.items() if s[1] > 0]
    out = spark.createDataFrame(rows, "event_type string, net_sum double,"
                                      " n_live long")
    return out.select("event_type", F.round("net_sum", 6).alias("net_sum"),
                      "n_live")

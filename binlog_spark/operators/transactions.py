"""Transaction assembly as declarative window computations.

Re-expresses the reference's single-threaded BEGIN/XID/ROLLBACK state
machine (`/root/reference/row_streamer.go:90-343` — BEGIN opens a buffer
:98-105, XID/COMMIT emits :107-118, ROLLBACK drops :197-199, rows events
with no BEGIN autocommit :96,266-270) as windows over (file, pos):

* ``gtid_seq`` — every transaction group starts with a GTID event; the
  running ``last(gtid, ignorenulls)`` assigns each event to its group.
* per-group flags (``begin``/``commit``/``rollback`` markers) decide the
  commit outcome: rolled-back groups are dropped, open trailing groups at
  EOF are dropped (the reference only delivers on commit), groups with no
  BEGIN autocommit.

The only shuffle is the window partition by ``file`` — binlog files are the
natural unit of sequential order, so this parallelizes across files on a
cluster (one partition per file, ~1 GiB each at production scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import schema as S


def assemble_transactions(decoded: DataFrame) -> DataFrame:
    """decoded (DECODE_OUTPUT_SCHEMA) → committed change rows (CHANGE_SCHEMA).

    Also computes ``seq_in_txn`` (event order within the transaction) and
    ``txn_id`` (= gtid_seq; the transaction grouping key).
    """
    order = [F.col("file").asc(), F.col("pos").asc(),
             F.col("seq_in_event").asc_nulls_first()]
    w_run = (
        Window.partitionBy("file").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = decoded.withColumn(
        "gtid_seq",
        F.last(F.when(F.col("kind") == "gtid", F.col("gtid_seq")), True).over(w_run),
    )

    # one Window node for all three outcome flags (same spec → Catalyst
    # evaluates them in a single pass over the sorted partition)
    w_txn = Window.partitionBy("file", "gtid_seq")
    df = df.select(
        "*",
        F.max((F.col("kind") == "rollback").cast("int")).over(w_txn).alias("_rb"),
        F.max((F.col("kind") == "commit").cast("int")).over(w_txn).alias("_cm"),
        F.max((F.col("kind") == "begin").cast("int")).over(w_txn).alias("_bg"),
    )
    committed = df.where(
        (F.col("kind") == "change")
        & F.col("gtid_seq").isNotNull()
        & (F.col("_rb") == 0)
        & ((F.col("_cm") == 1) | (F.col("_bg") == 0))  # autocommit fallback
    )
    w_seq = Window.partitionBy("file", "gtid_seq").orderBy(*order)
    committed = (
        committed.withColumn("seq_in_txn", F.row_number().over(w_seq) - 1)
        .withColumn("txn_id", F.col("gtid_seq"))
    )
    return committed.select(*[f.name for f in S.CHANGE_SCHEMA.fields])


def transaction_summaries(changes: DataFrame) -> DataFrame:
    """Per-transaction positions — the resume-token bookkeeping
    (``Transaction{NowPosition, NextPosition}``, transaction.go:9-14)."""
    return changes.groupBy("file", "txn_id").agg(
        F.min("pos").alias("start_pos"),
        F.max("next_pos").alias("next_pos"),
        F.max("ts").alias("ts"),
        F.count("*").alias("n_events"),
    )


def changes_to_json(changes: DataFrame) -> DataFrame:
    """P30 JSON sink: change rows → one JSON document per event, the debug
    parity dump of the reference's ``Transaction.MarshalJSON``
    (transaction.go:28-41,73-99,137-157 — there: Type/Table/SQL/Timestamp/
    RowValues/RowIdentifies; here the same content keyed op/tbl/ts/after/
    before plus our position fields). Pure ``to_json(struct(...))`` —
    JVM-side, no Python."""
    return changes.select(
        F.to_json(F.struct(
            F.col("op"), F.col("db"), F.col("tbl"), F.col("ts"),
            F.col("gtid_seq"), F.col("seq_in_txn"),
            F.col("file"), F.col("pos"), F.col("next_pos"),
            F.col("before"), F.col("after"),
        )).alias("json")
    )

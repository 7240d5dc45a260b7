"""The SQL MERGE: the differential oracle for ``merge.merge_bucket``.

A full-outer Spark join of the stored rows with a folded delta on the key,
then the last-writer-wins rule as column expressions: a delta row applies
when it is newer than the base row's ``(_gtid_seq, _seq_in_txn)`` (same
gtid: equal-or-later seq) or has no base row; an applied ``del`` drops the
row; an applied ``full`` takes every column from ``m``; otherwise a key
present in ``m`` patches its column and an absent key keeps the base
value. A row left with a NULL key column is dropped.
"""

from pyspark.sql import functions as F


def merge_oracle(base, delta, cols, key_cols):
    """``base`` (stored rows: ``cols``, ``_gtid_seq``, ``_seq_in_txn``) ⊕
    ``delta`` (``_k_*``, ``del``, ``full``, ``m``, ``g``, ``s``) → the
    merged rows, same columns as ``base``."""
    join_cond = [base[k] == delta[f"_k_{k}"] for k in key_cols]
    j = base.alias("b").join(delta.alias("d"), join_cond, "full_outer")

    has_delta = F.col("d.g").isNotNull()
    has_base = F.col(f"b.{key_cols[0]}").isNotNull()
    newer = has_delta & (
        ~has_base
        | (F.col("d.g") > F.col("b._gtid_seq"))
        | ((F.col("d.g") == F.col("b._gtid_seq"))
           & (F.col("d.s") >= F.col("b._seq_in_txn")))
    )
    drop = newer & F.col("d.del")

    out_cols = []
    for c in cols:
        applied = F.when(
            F.col("d.full"), F.col("d.m")[c]
        ).when(
            F.map_contains_key(F.col("d.m"), F.lit(c)), F.col("d.m")[c]
        ).otherwise(F.col(f"b.{c}"))
        out_cols.append(
            F.when(newer, applied).otherwise(F.col(f"b.{c}")).alias(c))
    out_cols.append(
        F.when(newer, F.col("d.g"))
        .otherwise(F.col("b._gtid_seq")).alias("_gtid_seq"))
    out_cols.append(
        F.when(newer, F.col("d.s"))
        .otherwise(F.col("b._seq_in_txn")).alias("_seq_in_txn"))

    result = j.where(~drop).select(*out_cols)
    for k in key_cols:
        result = result.where(F.col(k).isNotNull())
    return result

"""Canonical Spark schemas for the CDC engine.

The change-row schema mirrors the reference's decoded event model
(``StreamEvent``/``Transaction``, `/root/reference/transaction.go:9-51`)
flattened to one row per changed table row, plus the GTID ordering the
north rule requires. Before/after images are ``map<string,string>`` of the
*present* columns (canonical byte-string values, SQL NULL as a null map
value); a column absent from the map models the minimal row image
(``IsEmpty``, `/root/reference/transaction.go:114-119`).
"""

from pyspark.sql import types as T

# raw binlog frames at rest (generator output / streaming source)
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("pos", T.LongType(), False),
        T.StructField("etype", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)

# decoded logical change rows (output of the Arrow decode stage)
CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("gtid_seq", T.LongType(), True),
        T.StructField("txn_id", T.LongType(), True),
        T.StructField("seq_in_txn", T.IntegerType(), True),
        T.StructField("file", T.StringType(), False),
        T.StructField("pos", T.LongType(), False),
        T.StructField("next_pos", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("op", T.StringType(), True),
        T.StructField("db", T.StringType(), True),
        T.StructField("tbl", T.StringType(), True),
        T.StructField("before", T.MapType(T.StringType(), T.StringType(), True), True),
        T.StructField("after", T.MapType(T.StringType(), T.StringType(), True), True),
    ]
)

# decode-stage output: change rows plus marker/side-channel rows, before
# transaction assembly fills gtid_seq/txn_id/seq_in_txn for change rows.
# kind: change | gtid | begin | commit | rollback | ddl | deadletter
DECODE_OUTPUT_SCHEMA = T.StructType(
    list(CHANGE_SCHEMA.fields)
    + [
        T.StructField("seq_in_event", T.IntegerType(), True),
        T.StructField("kind", T.StringType(), False),
        T.StructField("sql", T.StringType(), True),
        T.StructField("reason", T.StringType(), True),
    ]
)

"""Per-partition lineage + throughput metrics (north-rule requirement).

The reference exposes only a resume Position (`row_streamer.go:57-63,86`);
we additionally record, per applied batch and binlog file, the position
range and per-op event counts — enough to audit exactly which slice of the
stream landed in which lake version.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .merge import write_json_atomic


def lineage_summary(changes: DataFrame) -> DataFrame:
    """Per table and binlog file: position range + op counts."""
    return changes.groupBy("db", "tbl", "file").agg(
        F.min("pos").alias("min_pos"),
        F.max("next_pos").alias("max_next_pos"),
        F.min("gtid_seq").alias("min_gtid"),
        F.max("gtid_seq").alias("max_gtid"),
        F.count("*").alias("n_changes"),
        F.sum((F.col("op") == "I").cast("long")).alias("n_insert"),
        F.sum((F.col("op") == "U").cast("long")).alias("n_update"),
        F.sum((F.col("op") == "D").cast("long")).alias("n_delete"),
    )


def write_record(lake_path: str, batch_id, rows: list,
                 metrics: dict | None = None) -> list:
    """Write ``_lineage/batch-<id>.json`` from the ``lineage_summary``
    rows (dicts) the lake applied, without their ``db``/``tbl``, plus the
    batch's metrics. Returns the record's rows."""
    files = [{k: v for k, v in r.items() if k not in ("db", "tbl")}
             for r in rows]
    out_dir = os.path.join(lake_path, "_lineage")
    os.makedirs(out_dir, exist_ok=True)
    doc = {"batch_id": batch_id, "wall_time": time.time(), "files": files}
    if metrics:
        doc["metrics"] = metrics
    write_json_atomic(os.path.join(out_dir, f"batch-{batch_id}.json"), doc,
                      default=str)
    return files


def write_lineage(changes: DataFrame, lake_path: str, batch_id,
                  metrics: dict | None = None) -> list:
    """``lineage_summary`` of ``changes``, then ``write_record``: the
    record as one Spark job of its own."""
    rows = [r.asDict() for r in lineage_summary(changes).collect()]
    return write_record(lake_path, batch_id, rows, metrics)

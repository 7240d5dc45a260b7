"""Incrementally-maintained time rollup (continuous aggregate).

The hypertable-rollup pattern: a pre-aggregated table keyed by (time
bucket, dimensions) that is maintained INCREMENTALLY as batches of rows
arrive, instead of recomputed from the raw table. The reference has no
aggregation at all (SURVEY §2.2); this is part of the engine's
lake-side half, built like the LWW lake table (operators/merge.py):

* additive state per group — ``(n_rows, sum_value, min_value,
  max_value)`` — whose merge is associative/commutative, so each batch
  contributes one tiny pre-aggregated delta (map-side partial combine is
  free: it's a plain groupBy);
* **merge-on-read** storage (the Iceberg/Hudi MOR shape): a batch
  appends ONE hash-bucketed delta layer — a single Spark action — and
  readers fold base + deltas with a result-sized groupBy; every
  ``compact_every`` batches a compaction folds the layers back into the
  copy-on-write base so read cost stays bounded. (The r3 copy-on-write
  form paid two actions per batch — a distinct-collect plus the merged
  rewrite — which dominated the wall clock of small incremental
  batches.)
* exactly-once by batch id: addition is NOT idempotent, so re-applying
  a crashed batch must be (and is) a manifest-level no-op; the delta
  directory name derives from the manifest version, so a crash between
  write and commit makes re-delivery overwrite the same uncommitted
  layer.

At 100 TB: the delta per batch is O(groups touched), reads prune to the
requested buckets across base + ≤``compact_every`` delta layers, and
compaction touches only buckets any layer changed — the standard
continuous-aggregate cost model (work ∝ new data, not table size).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .merge import _bucket_expr, write_json_atomic

AGG_COLS = ["n_rows", "sum_value", "min_value", "max_value"]


class RollupTable:
    """Bucketed additive-aggregate store over ``group_cols``.

    ``sum_value`` is stored at DECIMAL(38,6) — the type Spark's SUM over
    DECIMAL(28,6) inputs naturally widens to — so merges never narrow-cast
    (a cast back to (28,6) would silently NULL on overflow in non-ANSI
    mode, corrupting the rollup). Exact, association-free: the incremental
    result matches a one-shot GROUP BY bit-for-bit (and the DuckDB
    oracle)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "_meta.json")) as f:
            self.meta = json.load(f)

    @classmethod
    def create(cls, spark: SparkSession, path: str, group_cols: list,
               n_buckets: int = 16, compact_every: int = 8) -> "RollupTable":
        os.makedirs(path, exist_ok=True)
        meta = {"group_cols": list(group_cols), "n_buckets": n_buckets,
                "buckets": {}, "version": 0, "applied_batches": [],
                "deltas": [], "compact_every": compact_every}
        write_json_atomic(os.path.join(path, "_meta.json"), meta)
        return cls(spark, path)

    def _commit_meta(self, meta: dict):
        write_json_atomic(os.path.join(self.path, "_meta.json"), meta)
        self.meta = meta

    def _schema(self) -> T.StructType:
        fields = [T.StructField(c, T.StringType(), True)
                  for c in self.meta["group_cols"]]
        fields += [T.StructField("n_rows", T.LongType(), True),
                   T.StructField("sum_value", T.DecimalType(38, 6), True),
                   T.StructField("min_value", T.DoubleType(), True),
                   T.StructField("max_value", T.DoubleType(), True)]
        return T.StructType(fields)

    def _layer_paths(self, buckets=None) -> list:
        """Parquet partition dirs for the requested buckets across the
        compacted base + every live delta layer (bucket-pruned)."""
        want = ({str(b) for b in buckets} if buckets is not None else None)
        paths = []
        base = self.meta["buckets"]
        for b, v in base.items():
            if want is None or b in want:
                paths.append(os.path.join(self.path, "data", f"v{v:06d}",
                                          f"_bucket={b}"))
        for layer in self.meta["deltas"]:
            for b in layer["buckets"]:
                if want is None or b in want:
                    paths.append(os.path.join(self.path, "data",
                                              layer["dir"], f"_bucket={b}"))
        return paths

    def read(self, buckets=None) -> DataFrame:
        """Merged view of the requested buckets (merge-on-read: one
        result-sized groupBy over base + delta layers; a fully compacted
        table reads the base with no fold at all)."""
        paths = self._layer_paths(buckets)
        if not paths:
            return self.spark.createDataFrame([], self._schema())
        df = self.spark.read.schema(self._schema()).parquet(*paths)
        if not self.meta["deltas"]:
            return df
        gcols = self.meta["group_cols"]
        return (df.groupBy(*gcols)
                .agg(F.sum("n_rows").alias("n_rows"),
                     F.sum("sum_value").cast("decimal(38,6)")
                     .alias("sum_value"),
                     F.min("min_value").alias("min_value"),
                     F.max("max_value").alias("max_value")))

    def to_df(self) -> DataFrame:
        return self.read().select(*self.meta["group_cols"], *AGG_COLS)

    def apply_batch(self, rows: DataFrame, value_col: str,
                    batch_id=None) -> dict:
        """Fold one batch of raw rows into the rollup — ONE Spark action
        (the bucketed delta write; changed buckets come from the written
        partition directories, not a separate collect).

        ``rows`` must carry the group columns (as strings) + ``value_col``.
        Exactly-once: an already-applied ``batch_id`` is a no-op (additive
        merges cannot rely on row-level idempotency)."""
        if batch_id is not None and batch_id in self.meta["applied_batches"]:
            return {"skipped": True, "batch_id": batch_id}
        gcols = self.meta["group_cols"]
        n_buckets = self.meta["n_buckets"]

        v = F.col(value_col)
        delta = (rows.groupBy(*gcols)
                 .agg(F.count("*").alias("n_rows"),
                      F.sum(v.cast("decimal(28,6)")).cast("decimal(38,6)")
                      .alias("sum_value"),
                      F.min(v.cast("double")).alias("min_value"),
                      F.max(v.cast("double")).alias("max_value"))
                 .withColumn("_bucket", _bucket_expr(gcols, n_buckets)))
        new_version = self.meta["version"] + 1
        dname = f"d{new_version:06d}"
        out_dir = os.path.join(self.path, "data", dname)
        (delta.repartition(1)  # delta is O(groups touched) — tiny files
         .write.mode("overwrite").partitionBy("_bucket").parquet(out_dir))
        changed = sorted(d.split("=", 1)[1] for d in os.listdir(out_dir)
                         if d.startswith("_bucket="))
        meta = dict(self.meta)
        meta["version"] = new_version
        meta["deltas"] = meta["deltas"] + [
            {"dir": dname, "buckets": changed}]
        if batch_id is not None:
            meta["applied_batches"] = meta["applied_batches"] + [batch_id]
        self._commit_meta(meta)
        if len(self.meta["deltas"]) >= self.meta["compact_every"]:
            self.compact()
        return {"skipped": False, "batch_id": batch_id,
                "buckets_rewritten": len(changed)}

    def compact(self) -> dict:
        """Fold every delta layer back into the copy-on-write base: one
        merged write of the buckets any layer touched; untouched base
        buckets keep their existing files."""
        touched = sorted({b for layer in self.meta["deltas"]
                          for b in layer["buckets"]})
        if not touched:
            meta = dict(self.meta)
            meta["deltas"] = []
            self._commit_meta(meta)
            return {"buckets_compacted": 0}
        gcols = self.meta["group_cols"]
        merged = self.read(touched).withColumn(
            "_bucket", _bucket_expr(gcols, self.meta["n_buckets"]))
        new_version = self.meta["version"] + 1
        out_dir = os.path.join(self.path, "data", f"v{new_version:06d}")
        (merged.repartition(max(len(touched), 1), F.col("_bucket"))
         .write.mode("overwrite").partitionBy("_bucket").parquet(out_dir))
        written = {d.split("=", 1)[1] for d in os.listdir(out_dir)
                   if d.startswith("_bucket=")}
        meta = dict(self.meta)
        meta["buckets"] = dict(meta["buckets"])
        for b in touched:
            if b in written:
                meta["buckets"][b] = new_version
        meta["version"] = new_version
        meta["deltas"] = []
        self._commit_meta(meta)
        return {"buckets_compacted": len(written)}

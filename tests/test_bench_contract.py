"""The benchmark harness's contract with the engine.

``cdcbench/layers.py`` re-runs the replay orchestration one layer at a
time and ``cdcbench/bench.py`` drives the program's own calls. Both
import engine names, some of them private, and call them with fixed
argument shapes. An engine change that renames or reshapes one of them
fails here, in the test suite, instead of in a benchmark run.
"""

import inspect
import json
import os

from binlog_spark import genlog, pipeline
from binlog_spark import schema as S
from binlog_spark.operators.decode import decode_frames, discover_stream_meta
from binlog_spark.operators.lineage import write_lineage
from binlog_spark.operators.lww import fold_changes
from binlog_spark.operators.merge import LakeTable
from binlog_spark.operators.transactions import assemble_transactions
from binlog_spark.pipeline import _DdlAccum, apply_ddls
from binlog_spark.session import get_spark
from binlog_spark.streaming.pipeline import (
    _merge_meta,
    _MetaStore,
    run_stream_ordered,
)

X = object()  # stands in for a SparkSession / DataFrame / LakeTable


def _binds(fn, *args, **kwargs):
    inspect.signature(fn).bind(*args, **kwargs)


def test_harness_call_shapes_bind():
    _binds(get_spark, app_name="cdcbench", cpus=4)
    _binds(pipeline.read_frames, X, "frames_dir")
    _binds(pipeline.replay_batch, X, X, X, {}, batch_id=0)
    _binds(run_stream_ordered, X, "frames_dir", "lake_path", {}, "ckpt")
    _binds(discover_stream_meta, X)
    _binds(_merge_meta, {}, {})
    _binds(_MetaStore, "path")
    _binds(_DdlAccum)
    _binds(decode_frames, X, X, {}, {}, ddl_acc=X)
    _binds(assemble_transactions, X)
    _binds(fold_changes, X, ("repo", "path"))
    _binds(apply_ddls, X, [])
    _binds(write_lineage, X, "lake_path", 0, metrics={})
    _binds(LakeTable, X, "path")
    _binds(LakeTable.create, X, "path", columns=[], key_cols=[],
           n_buckets=32)
    _binds(LakeTable.bucket_of, X, X)
    _binds(LakeTable.merge_apply, X, X, batch_id=0, max_gtid=0,
           changed_buckets=[])
    assert S.FRAME_SCHEMA.fieldNames()[:2] == ["file", "pos"]
    assert genlog.table_spec().col_names and genlog.KEY_COLS
    assert genlog.table_registry()


def test_meta_store_and_ddl_accumulator(tmp_path):
    store = _MetaStore(str(tmp_path / "ckpt" / "table_map_cache.json"))
    assert store.load() == {"checksum_alg": 1, "table_maps": {}}
    meta = _merge_meta(store.load(), {
        "checksum_alg": 1,
        "table_maps": {("binlog.000001", 7): [(4, ("a", "b"))]}})
    store.save(meta)
    assert store.load() == meta
    acc = _DdlAccum()
    assert acc.addInPlace(acc.zero(None), [("f", 4)]) == [("f", 4)]


def test_run_stream_ordered_writes_lineage_metrics(spark, tmp_path):
    """The incremental workload reads each batch's applied change count
    from ``_lineage/batch-ordered-<file>.json``."""
    gen = genlog.CdcWorldGenerator(seed=5, n_repos=4, paths_per_repo=4,
                                   txns_per_file=40)
    result = gen.generate(n_txns=30)
    frames_dir = str(tmp_path / "frames")
    genlog.write_frames_parquet(result, frames_dir)
    (name,) = [n for n in os.listdir(frames_dir) if n.endswith(".parquet")]
    lake = LakeTable.create(spark, str(tmp_path / "lake"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    out = run_stream_ordered(spark, frames_dir, lake.path,
                             genlog.table_registry(), str(tmp_path / "ckpt"))
    assert out == {"batches": 1, "files": 1}
    with open(os.path.join(lake.path, "_lineage",
                           f"batch-ordered-{name}.json")) as f:
        assert json.load(f)["metrics"]["n_changes"] == len(result.changes)

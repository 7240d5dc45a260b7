"""Binlog file-ordering contract for streaming ingestion.

Spark's file streaming source orders new files by modification time;
binlog correctness needs NAME order. These tests cover the r2 verdict's
noted gap: (a) the name-ordered driver ingests correctly and resumes
exactly-once even with fully scrambled mtimes, (b) the structured-
streaming guard turns a cross-batch order violation into a loud failure
instead of silent data loss, and tolerates crash re-delivery.
"""

import hashlib
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binlog_spark import genlog  # noqa: E402
from binlog_spark.operators.merge import LakeTable  # noqa: E402
from binlog_spark.streaming.pipeline import (  # noqa: E402
    _FileOrderGuard,
    run_stream_ordered,
)


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    gen = genlog.CdcWorldGenerator(seed=31, n_repos=10, paths_per_repo=8,
                                   txns_per_file=20)
    result = gen.generate(n_txns=120)  # 6 binlog files
    frames_dir = str(tmp_path_factory.mktemp("ordframes"))
    genlog.write_frames_parquet(result, frames_dir)
    # scramble mtimes: newest names get the OLDEST timestamps
    names = sorted(os.listdir(frames_dir))
    now = time.time()
    for i, n in enumerate(names):
        ts = now - 1000 - 60 * i  # reverse chronological by name
        os.utime(os.path.join(frames_dir, n), (ts, ts))
    return result, frames_dir


def _state(lake):
    return {(r["repo"], r["path"]):
            hashlib.sha256(r["content"].encode()).hexdigest()
            for r in lake.to_df().collect()}


def _want(result):
    return {k: hashlib.sha256(v["content"].encode()).hexdigest()
            for k, v in result.final_state.items()}


def test_ordered_driver_immune_to_scrambled_mtimes(spark, world, tmp_path):
    result, frames_dir = world
    lake = LakeTable.create(spark, str(tmp_path / "lake"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    stats = run_stream_ordered(spark, frames_dir, lake.path,
                               genlog.table_registry(),
                               str(tmp_path / "ckpt"),
                               max_files_per_trigger=2)
    assert stats["files"] == 6 and stats["batches"] == 3
    lake = LakeTable(spark, lake.path)
    assert _state(lake) == _want(result)
    # idempotent: a second full run finds nothing to do
    again = run_stream_ordered(spark, frames_dir, lake.path,
                               genlog.table_registry(),
                               str(tmp_path / "ckpt"))
    assert again == {"batches": 0, "files": 0}
    assert _state(LakeTable(spark, lake.path)) == _want(result)


def test_ordered_driver_resumes_from_cursor(spark, world, tmp_path):
    """Files arriving over time (still mtime-scrambled): each invocation
    picks up exactly the name-ordered suffix after the cursor."""
    import shutil

    result, frames_dir = world
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    names = sorted(os.listdir(frames_dir))
    lake = LakeTable.create(spark, str(tmp_path / "lake2"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    ckpt = str(tmp_path / "ckpt2")
    # phase 1: first 4 files present
    for n in names[:4]:
        shutil.copy2(os.path.join(frames_dir, n), os.path.join(staged, n))
    s1 = run_stream_ordered(spark, staged, lake.path,
                            genlog.table_registry(), ckpt,
                            max_files_per_trigger=3)
    assert s1["files"] == 4
    # phase 2: the rest arrive (with older mtimes than everything)
    for n in names[4:]:
        shutil.copy2(os.path.join(frames_dir, n), os.path.join(staged, n))
        old = time.time() - 99999
        os.utime(os.path.join(staged, n), (old, old))
    s2 = run_stream_ordered(spark, staged, lake.path,
                            genlog.table_registry(), ckpt,
                            max_files_per_trigger=3)
    assert s2["files"] == 2
    assert _state(LakeTable(spark, lake.path)) == _want(result)


def test_guard_rejects_out_of_order_batches(tmp_path):
    g = _FileOrderGuard(str(tmp_path / "hwm.json"))
    g.check_and_advance(["binlog.000000", "binlog.000001"], batch_id=0)
    # crash re-delivery of the SAME microbatch is tolerated
    g.check_and_advance(["binlog.000000", "binlog.000001"], batch_id=0)
    # an equal-name batch is a CONTINUATION (one binlog file spanning
    # several source chunks) — allowed; the lake's GTID watermark makes
    # genuinely re-delivered rows a no-op
    g.check_and_advance(["binlog.000001"], batch_id=1)
    # a later batch going strictly backwards (mtime-ordered source)
    # fails loudly
    with pytest.raises(ValueError, match="order violation"):
        g.check_and_advance(["binlog.000000"], batch_id=2)
    # forward progress is fine
    g.check_and_advance(["binlog.000002"], batch_id=2)
    g.check_and_advance(["binlog.000003", "binlog.000004"], batch_id=3)


def test_structured_stream_guard_stays_silent_in_order(spark, tmp_path):
    """The default streaming path with monotone mtimes: guard never
    fires, exactly-once final state as before."""
    from binlog_spark.streaming.pipeline import run_stream

    gen = genlog.CdcWorldGenerator(seed=32, n_repos=6, paths_per_repo=5,
                                   txns_per_file=25)
    result = gen.generate(n_txns=75)
    frames_dir = str(tmp_path / "frames")
    genlog.write_frames_parquet(result, frames_dir)
    lake = LakeTable.create(spark, str(tmp_path / "lake3"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    q = run_stream(spark, frames_dir, lake.path, genlog.table_registry(),
                   str(tmp_path / "ckpt3"), max_files_per_trigger=1)
    q.awaitTermination(120)
    assert _state(LakeTable(spark, lake.path)) == _want(result)


def test_file_spanning_microbatches_feeds_the_store(spark, tmp_path,
                                                     monkeypatch):
    """One binlog file landed as two parquet chunks split at a GTID, one
    chunk per microbatch: the first batch's decode tasks put the file's
    TABLE_MAP in the stored cache, the second batch decodes with it, the
    lake ends equal to the generator's state, and no batch runs a
    discovery job (two collects each: the summary and the merge)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from binlog_spark.wire import constants as C

    gen = genlog.CdcWorldGenerator(seed=33, n_repos=6, paths_per_repo=5,
                                   txns_per_file=1000)
    result = gen.generate(n_txns=40)
    (name,) = {f for f, _, _, _ in result.frames}
    gtids = [p for _, p, et, _ in result.frames if et == C.E_GTID]
    cut = gtids[len(gtids) // 2]
    src = str(tmp_path / "frames")
    os.makedirs(src)
    for tag, keep in (("a", lambda p: p < cut), ("b", lambda p: p >= cut)):
        rows = [r for r in result.frames if keep(r[1])]
        pq.write_table(pa.table({
            "file": pa.array([r[0] for r in rows], pa.string()),
            "pos": pa.array([r[1] for r in rows], pa.int64()),
            "etype": pa.array([r[2] for r in rows], pa.int32()),
            "frame": pa.array([r[3] for r in rows], pa.binary()),
        }), os.path.join(src, f"{name}.{tag}.parquet"))

    calls = {"collect": 0}
    cls = type(spark.range(1))
    real = cls.collect

    def counted(self, *a, **kw):
        calls["collect"] += 1
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "collect", counted)
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    lake = LakeTable.create(spark, str(tmp_path / "lake_span"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    ckpt = str(tmp_path / "ckpt_span")
    store = os.path.join(ckpt, "table_map_cache.json")
    for tag in ("a", "b"):
        chunk = f"{name}.{tag}.parquet"
        os.link(os.path.join(src, chunk), os.path.join(staged, chunk))
        calls["collect"] = 0
        out = run_stream_ordered(spark, staged, lake.path,
                                 genlog.table_registry(), ckpt,
                                 max_files_per_trigger=1)
        assert out == {"batches": 1, "files": 1}
        assert calls["collect"] == 2
        if tag == "a":
            with open(store) as f:
                keys = list(json.load(f)["table_maps"])
            assert keys and all(k.startswith(f"{name}@") for k in keys)
    assert _state(LakeTable(spark, lake.path)) == _want(result)

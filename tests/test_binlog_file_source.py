"""Raw binlog-file source (sources/binlog_file.py): files round-trip
byte-exactly through write→read, the splitter rejects corruption, and a
full replay from raw files converges to the generator's final state."""

import hashlib
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binlog_spark import genlog, pipeline  # noqa: E402
from binlog_spark.operators.merge import LakeTable  # noqa: E402
from binlog_spark.sources import binlog_file  # noqa: E402


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    gen = genlog.CdcWorldGenerator(seed=31, n_repos=10, paths_per_repo=12,
                                   txns_per_file=40)
    result = gen.generate(n_txns=90)
    d = str(tmp_path_factory.mktemp("rawlogs"))
    binlog_file.write_binlog_files(result, d)
    return result, d


def test_frames_round_trip_byte_exact(spark, world):
    result, d = world
    got = {(r["file"], r["pos"]): (r["etype"], bytes(r["frame"]))
           for r in binlog_file.read_binlog_files(spark, d).collect()}
    want = {(f, p): (et, fr) for f, p, et, fr in result.frames}
    assert got == want


def test_splitter_rejects_corruption(world):
    _, d = world
    name = sorted(os.listdir(d))[0]
    with open(os.path.join(d, name), "rb") as f:
        buf = f.read()
    with pytest.raises(ValueError, match="magic"):
        binlog_file.split_binlog_blob(name, b"XXXX" + buf[4:])
    with pytest.raises(ValueError, match="truncated|bad event_length"):
        binlog_file.split_binlog_blob(name, buf[:-5])


def test_replay_from_raw_files_matches_generator(spark, world, tmp_path):
    result, d = world
    lake = LakeTable.create(spark, str(tmp_path / "lake_raw"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    frames = binlog_file.read_binlog_files(spark, d)
    pipeline.replay_batch(spark, frames, lake, genlog.table_registry(),
                          batch_id=0)
    got = {(r["repo"], r["path"]):
           hashlib.sha256(r["content"].encode()).hexdigest()
           for r in lake.to_df().collect()}
    want = {(repo, path):
            hashlib.sha256(row["content"].encode()).hexdigest()
            for (repo, path), row in result.final_state.items()}
    assert got == want


def test_raw_tail_rejects_mtime_scrambled_archive(spark, tmp_path):
    """r3 ADVICE regression: binaryFile orders new files by mtime, so a
    scrambled archive (copies/restores/parallel writers) would apply a
    later-named binlog first and silently drop the earlier file's changes
    past the advanced GTID watermark. run_stream(raw=True) must fail the
    batch LOUDLY (offsets uncommitted) via the same _FileOrderGuard as
    the frame-parquet source."""
    import time

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from binlog_spark.streaming.pipeline import run_stream

    gen = genlog.CdcWorldGenerator(seed=41, n_repos=8, paths_per_repo=10,
                                   txns_per_file=30)
    result = gen.generate(n_txns=70)
    live = str(tmp_path / "live_scrambled")
    binlog_file.write_binlog_files(result, live)
    names = sorted(os.listdir(live))
    assert len(names) >= 2
    # newest names get the OLDEST mtimes → the mtime-ordered source
    # delivers the later-named file in an earlier microbatch
    now = time.time()
    for i, n in enumerate(reversed(names)):
        ts = now - 3600 + i
        os.utime(os.path.join(live, n), (ts, ts))

    lake = LakeTable.create(spark, str(tmp_path / "lake_scrambled"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    q = run_stream(spark, live, lake.path, genlog.table_registry(),
                   str(tmp_path / "ckpt_scrambled"), raw=True)
    with pytest.raises((StreamingQueryException, Py4JJavaError),
                       match="file order violation"):
        q.awaitTermination()
    # the guard fired on the out-of-order batch BEFORE its lake state
    # moved: only the first (clean) microbatch is recorded, the stream
    # halts loudly instead of silently dropping the earlier file
    lake = LakeTable(spark, lake.path)
    assert lake.meta["applied_batches"] == ["raw-0"]


def test_streaming_tail_of_growing_archive(spark, tmp_path):
    """run_stream(raw=True): tail a growing raw-binlog directory across two
    availableNow passes sharing one checkpoint — the second pass applies
    ONLY the newly arrived file, and the final state matches the
    generator's."""
    from binlog_spark.streaming.pipeline import run_stream

    gen = genlog.CdcWorldGenerator(seed=37, n_repos=10, paths_per_repo=12,
                                   txns_per_file=40)
    result = gen.generate(n_txns=80)
    staged = str(tmp_path / "staged")
    binlog_file.write_binlog_files(result, staged)
    names = sorted(os.listdir(staged))
    assert len(names) >= 2

    live = str(tmp_path / "live")
    os.makedirs(live)
    ckpt = str(tmp_path / "ckpt")
    lake = LakeTable.create(spark, str(tmp_path / "lake_tail"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)

    # first file arrives; pass 1 consumes it
    os.link(os.path.join(staged, names[0]), os.path.join(live, names[0]))
    run_stream(spark, live, lake.path, genlog.table_registry(),
               ckpt, raw=True).awaitTermination()
    lake = LakeTable(spark, lake.path)  # reload manifest committed by the stream
    applied_after_first = list(lake.meta["applied_batches"])
    assert applied_after_first

    # the rest arrive; pass 2 (same checkpoint) applies only the new ones
    for n in names[1:]:
        os.link(os.path.join(staged, n), os.path.join(live, n))
    run_stream(spark, live, lake.path, genlog.table_registry(),
               ckpt, raw=True).awaitTermination()
    lake = LakeTable(spark, lake.path)
    assert len(lake.meta["applied_batches"]) > len(applied_after_first)

    got = {(r["repo"], r["path"]):
           hashlib.sha256(r["content"].encode()).hexdigest()
           for r in lake.to_df().collect()}
    want = {(repo, path):
            hashlib.sha256(row["content"].encode()).hexdigest()
            for (repo, path), row in result.final_state.items()}
    assert got == want

"""End-to-end decode + transaction assembly + merge-apply parity.

The Spark analogue of the reference's pipeline test
(`/root/reference/row_streamer_test.go:243-371`): replay synthetic frames
through the full job and assert the decoded change rows and the final lake
state exactly (content sha256 parity per BASELINE.json input_hint).
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from binlog_spark import genlog, pipeline
from binlog_spark.operators.lww import fold_changes, lww_latest
from binlog_spark.operators.merge import LakeTable
from binlog_spark.operators.transactions import transaction_summaries
from tests.fold_oracle import fold_oracle, norm_fold


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    gen = genlog.CdcWorldGenerator(seed=7, n_repos=20, paths_per_repo=25,
                                   txns_per_file=40)
    result = gen.generate(n_txns=120)
    frames_dir = str(tmp_path_factory.mktemp("frames"))
    genlog.write_frames_parquet(result, frames_dir)
    return result, frames_dir


def _norm_change(c):
    return (
        c["gtid_seq"], c["seq_in_txn"], c["file"], c["pos"], c["op"],
        c["db"], c["tbl"],
        tuple(sorted((c["before"] or {}).items())),
        tuple(sorted((c["after"] or {}).items())),
    )


def test_decode_matches_generator_changes(spark, world):
    result, frames_dir = world
    frames = pipeline.read_frames(spark, frames_dir)
    changes = pipeline.decode_to_changes(spark, frames, genlog.table_registry())
    got = [_norm_change(r.asDict()) for r in changes.collect()]
    want = [_norm_change(c) for c in result.changes]
    assert sorted(got) == sorted(want)
    assert len(got) == len(want)


def test_merge_apply_final_state_sha_parity(spark, world, tmp_path):
    result, frames_dir = world
    lake = LakeTable.create(spark, str(tmp_path / "lake"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=8)
    frames = pipeline.read_frames(spark, frames_dir)
    stats = pipeline.replay_batch(spark, frames, lake,
                                  genlog.table_registry(), batch_id=0)
    assert stats["n_changes"] == len(result.changes)

    got = {(r["repo"], r["path"]):
           hashlib.sha256(r["content"].encode()).hexdigest()
           for r in lake.to_df().collect()}
    want = {(repo, path): hashlib.sha256(row["content"].encode()).hexdigest()
            for (repo, path), row in result.final_state.items()}
    assert got == want

    # full column equality, not just sha
    got_rows = {(r["repo"], r["path"]): r.asDict()
                for r in lake.to_df().collect()}
    for key, row in result.final_state.items():
        g = got_rows[key]
        for col in ("commit", "lang", "content"):
            assert g[col] == row[col], (key, col)


def test_merge_reports_rows_written(spark, world, tmp_path):
    """``merge_apply`` stats and the lineage record's ``metrics`` carry
    the buckets rewritten and the rows written: on an empty lake every
    live row; on the second batch the rows of the rewritten buckets."""
    import json

    result, frames_dir = world
    lake = LakeTable.create(spark, str(tmp_path / "lake_rw"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=8)
    frames = pipeline.read_frames(spark, frames_dir)
    first = F.col("file") == "binlog.000000"
    for bid, part in enumerate((frames.where(first), frames.where(~first))):
        stats = pipeline.replay_batch(spark, part, lake,
                                      genlog.table_registry(), batch_id=bid)
        fresh = [int(b) for b, v in lake.meta["buckets"].items()
                 if v == stats["version"]]
        assert stats["buckets_rewritten"] == len(fresh) > 0
        assert stats["rows_written"] == lake.read(fresh).count()
        with open(tmp_path / "lake_rw" / "_lineage"
                  / f"batch-{bid}.json") as f:
            metrics = json.load(f)["metrics"]
        assert metrics["buckets_rewritten"] == stats["buckets_rewritten"]
        assert metrics["rows_written"] == stats["rows_written"]
        if bid == 0:
            assert stats["rows_written"] == lake.to_df().count()
    assert lake.to_df().count() == len(result.final_state)


def test_delta_keys_counts_folded_rows_above_watermark(spark, world,
                                                      tmp_path):
    """``delta_keys`` in the stats and in the lineage record's ``metrics``
    is the number of folded rows merged: ``fold_changes`` over the batch,
    above the lake's GTID watermark. The second batch re-delivers the
    first file, so some of its folded rows sit at or below the mark."""
    import json

    _result, frames_dir = world
    lake = LakeTable.create(spark, str(tmp_path / "lake_dk"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=8)
    frames = pipeline.read_frames(spark, frames_dir)
    registry = genlog.table_registry()
    for bid, part in enumerate((frames.where(F.col("file") == "binlog.000000"),
                                frames)):
        folded = fold_changes(pipeline.decode_to_changes(spark, part,
                                                         registry))
        want = folded.where(F.col("g") > lake.meta["last_gtid"]).count()
        stats = pipeline.replay_batch(spark, part, lake, registry,
                                      batch_id=bid)
        assert stats["delta_keys"] == want > 0
        with open(tmp_path / "lake_dk" / "_lineage"
                  / f"batch-{bid}.json") as f:
            assert json.load(f)["metrics"]["delta_keys"] == want
    assert want < folded.count()


def test_one_summary_action_per_batch(spark, world, tmp_path, monkeypatch):
    """A batch runs two collects (the summary, the merge job) and caches
    one DataFrame, the change set; no discovery job runs. A lake whose
    table has no rows in the batch runs no merge job, yet records the
    batch id and writes its lineage record."""
    import json

    calls = {"collect": 0, "persist": 0}
    cls = type(spark.range(1))  # the class every session DataFrame has
    for name in calls:
        def counted(self, *a, _name=name, _fn=getattr(cls, name), **kw):
            calls[_name] += 1
            return _fn(self, *a, **kw)
        monkeypatch.setattr(cls, name, counted)

    result, frames_dir = world
    frames = pipeline.read_frames(spark, frames_dir)
    lake = LakeTable.create(spark, str(tmp_path / "lake_one"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=8)
    stats = pipeline.replay_batch(spark, frames, lake,
                                  genlog.table_registry(), batch_id=0)
    assert calls == {"collect": 2, "persist": 1}
    assert stats["n_changes"] == len(result.changes)
    assert stats["fallback_files"] == 0
    assert (tmp_path / "lake_one" / "_lineage" / "batch-0.json").exists()

    calls.update(collect=0, persist=0)
    docs, absent = ("codehub", "repo_content"), ("codehub", "absent")
    lakes = {key: LakeTable.create(
        spark, str(tmp_path / key[1]), columns=genlog.table_spec().col_names,
        key_cols=list(genlog.KEY_COLS), n_buckets=8, table=key)
        for key in (docs, absent)}
    out = pipeline.replay_batch_multi(spark, frames, lakes,
                                      genlog.table_registry(), batch_id=0)
    assert calls == {"collect": 2, "persist": 1}
    assert out[docs]["n_changes"] == len(result.changes)
    assert out[absent]["n_changes"] == 0
    assert out[absent]["buckets_rewritten"] == 0
    assert lakes[absent].meta["applied_batches"] == [0]
    assert lakes[absent].meta["buckets"] == {}
    with open(tmp_path / "absent" / "_lineage" / "batch-0.json") as f:
        doc = json.load(f)
    assert doc["files"] == [] and doc["metrics"]["n_changes"] == 0


def test_replay_leaves_no_broadcast_files(spark, world, tmp_path):
    """PySpark keeps each broadcast's pickle in a driver temp file until
    ``destroy()``. A batch destroys its decode broadcasts, on the
    file-local path and on the window path (a split layout), so a stream
    of batches leaves no file behind per batch."""
    import os

    from binlog_spark.schema import FRAME_SCHEMA

    result, frames_dir = world
    whole = pipeline.read_frames(spark, frames_dir)
    split = spark.createDataFrame(result.frames, FRAME_SCHEMA).repartition(8)
    lake = LakeTable.create(spark, str(tmp_path / "lake_bc"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    temp_dir = spark.sparkContext._temp_dir
    before = sorted(os.listdir(temp_dir))
    for bid, frames in enumerate((whole, whole, split, split)):
        stats = pipeline.replay_batch(spark, frames, lake,
                                      genlog.table_registry(), batch_id=bid)
        assert stats["n_changes"] == len(result.changes)
    assert stats["fallback_files"] > 0
    assert sorted(os.listdir(temp_dir)) == before


def test_redelivered_batch_keeps_its_lineage_record(spark, world, tmp_path):
    """A batch the lake already applied is skipped, and its lineage
    record keeps the metrics of the apply that committed it."""
    import json

    _result, frames_dir = world
    frames = pipeline.read_frames(spark, frames_dir)
    lake = LakeTable.create(spark, str(tmp_path / "lake_re"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=8)
    record = tmp_path / "lake_re" / "_lineage" / "batch-0.json"
    docs = []
    for _ in range(2):
        pipeline.replay_batch(spark, frames, lake, genlog.table_registry(),
                              batch_id=0)
        with open(record) as f:
            docs.append(json.load(f))
    assert docs[0]["metrics"]["buckets_rewritten"] > 0
    assert docs[1] == docs[0]


def test_lineage_record_write_is_atomic(tmp_path, monkeypatch):
    """A ``json.dump`` that raises leaves no ``batch-<id>.json`` behind,
    and an existing record as it was."""
    import json

    from binlog_spark.operators import lineage

    rows = [{"db": "codehub", "tbl": "repo_content", "file": "binlog.000000",
             "min_pos": 4, "max_next_pos": 90, "min_gtid": 1, "max_gtid": 2,
             "n_changes": 3, "n_insert": 2, "n_update": 1, "n_delete": 0}]
    lineage.write_record(str(tmp_path), 1, rows, {"n_changes": 3})
    good = (tmp_path / "_lineage" / "batch-1.json").read_text()

    def torn_dump(obj, f, **kw):
        f.write('{"batch_id": ')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    for bid in (1, 2):
        with pytest.raises(OSError):
            lineage.write_record(str(tmp_path), bid, rows, {"n_changes": 3})
    assert (tmp_path / "_lineage" / "batch-1.json").read_text() == good
    assert sorted(p.name for p in (tmp_path / "_lineage").iterdir()) == [
        "batch-1.json"]


def test_merge_apply_is_idempotent(spark, world, tmp_path):
    result, frames_dir = world
    lake = LakeTable.create(spark, str(tmp_path / "lake2"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    frames = pipeline.read_frames(spark, frames_dir)
    pipeline.replay_batch(spark, frames, lake, genlog.table_registry(),
                          batch_id=0)
    v1 = lake.meta["version"]
    state1 = sorted(tuple(r) for r in lake.to_df().collect())

    # same batch id -> exactly-once no-op
    stats = pipeline.replay_batch(spark, frames, lake,
                                  genlog.table_registry(), batch_id=0)
    assert stats["skipped"]
    # different batch id, same data -> row-level gtid guard keeps state fixed
    pipeline.replay_batch(spark, frames, lake, genlog.table_registry(),
                          batch_id=1)
    state2 = sorted(tuple(r) for r in lake.to_df().collect())
    assert state1 == state2


def test_chunked_fold_equals_plain_fold(spark, world):
    """Every key folded by ONE task, in 16-row Arrow batches: key runs
    and the carried state hand over at every batch boundary, and the
    columnar fold still equals the pure-Python oracle."""
    result, frames_dir = world
    frames = pipeline.read_frames(spark, frames_dir)
    changes = pipeline.decode_to_changes(spark, frames, genlog.table_registry())
    confs = {"spark.sql.shuffle.partitions": "1",
             "spark.sql.execution.arrow.maxRecordsPerBatch": "16"}
    before = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert norm_fold(fold_changes(changes)) == fold_oracle(changes)
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def _hot_world_parity(spark, tmp_path, tag, **world):
    gen = genlog.CdcWorldGenerator(txns_per_file=500, **world)
    result = gen.generate(n_txns=1000)
    frames_dir = str(tmp_path / f"frames_{tag}")
    genlog.write_frames_parquet(result, frames_dir)
    lake = LakeTable.create(spark, str(tmp_path / f"lake_{tag}"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    stats = pipeline.replay_batch(spark, pipeline.read_frames(
        spark, frames_dir), lake, genlog.table_registry(), batch_id=0)
    assert stats["n_changes"] == len(result.changes)
    got = {(r["repo"], r["path"]):
           hashlib.sha256(r["content"].encode()).hexdigest()
           for r in lake.to_df().collect()}
    want = {(repo, path): hashlib.sha256(row["content"].encode()).hexdigest()
            for (repo, path), row in result.final_state.items()}
    assert got == want
    return len(result.changes), len(result.final_state)


def test_hot_key_world_replay_parity(spark, tmp_path):
    """Skewed inputs through the one fold engine: few keys, many events
    per key, so a handful of fold tasks each hold very long key runs —
    including the narrowest world the generator makes (one repo,
    one path per directory and extension: 64 keys)."""
    n_changes, n_keys = _hot_world_parity(
        spark, tmp_path, "skewed", seed=13, n_repos=4, paths_per_repo=2,
        hot_repos=2)
    assert n_changes > 5 * n_keys
    n_changes, n_keys = _hot_world_parity(
        spark, tmp_path, "single", seed=13, n_repos=1, paths_per_repo=1,
        hot_repos=1)
    assert n_keys <= 64 and n_changes > 100 * n_keys


def test_inline_discovery_replay_parity(spark, tmp_path):
    """The default replay runs no discovery job; the decode overlay
    resolves TABLE_MAPs from its own partitions — including a mid-stream
    ALTER — and the final state matches the generator's."""
    gen = genlog.CdcWorldGenerator(seed=17, n_repos=12, paths_per_repo=8,
                                   txns_per_file=30, evolve_at_txn=45)
    result = gen.generate(n_txns=120)
    frames_dir = str(tmp_path / "frames")
    genlog.write_frames_parquet(result, frames_dir)
    frames = pipeline.read_frames(spark, frames_dir)
    lake = LakeTable.create(spark, str(tmp_path / "lake_inline"),
                            columns=genlog.table_spec(True).col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    stats = pipeline.replay_batch(
        spark, frames, lake, genlog.table_registry(), batch_id=0)
    assert stats["n_changes"] == len(result.changes)
    assert stats["fallback_files"] == 0
    got = {(r["repo"], r["path"]): (r["content"], r["stars"])
           for r in lake.to_df().collect()}
    want = {k: (v["content"], v.get("stars"))
            for k, v in result.final_state.items()}
    assert got == want


def test_inline_discovery_foreign_partition_dead_letters(spark, tmp_path):
    """The documented contract when partitions do NOT hold whole files:
    a ROWS event whose TABLE_MAP landed elsewhere dead-letters (never
    mis-decodes); with the discovery job the same layout decodes fully,
    and ``replay_batch`` re-decodes every split file on the window path
    under the TABLE_MAP versions its decode tasks reported."""
    from binlog_spark.operators.decode import (decode_frames,
                                               discover_stream_meta)

    gen = genlog.CdcWorldGenerator(seed=18, n_repos=6, paths_per_repo=5,
                                   txns_per_file=50)
    result = gen.generate(n_txns=3)  # few TABLE_MAPs vs many partitions
    from binlog_spark.schema import FRAME_SCHEMA

    # scramble frames across partitions: file locality destroyed, most
    # partitions hold ROWS events but no TABLE_MAP at all
    df = spark.createDataFrame(result.frames, FRAME_SCHEMA).repartition(8)
    inline_meta = {"checksum_alg": 1, "table_maps": {}}
    out = decode_frames(spark, df, inline_meta, genlog.table_registry())
    out = out.groupBy("kind").count().collect()
    counts = {r["kind"]: r["count"] for r in out}
    assert counts.get("deadletter", 0) > 0
    assert counts.get("change", 0) < len(result.changes)
    meta = discover_stream_meta(df)
    full = decode_frames(spark, df, meta, genlog.table_registry())
    assert full.where(full.kind == "change").count() == len(result.changes)

    # the replay sees the split layout in its decode tasks' report and
    # re-assembles every file on the window path: nothing dead-letters
    lake = LakeTable.create(spark, str(tmp_path / "lake_split"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    stats = pipeline.replay_batch(spark, df, lake, genlog.table_registry(),
                                  batch_id=0)
    assert stats["fallback_files"] > 0
    assert stats["n_changes"] == len(result.changes)
    got = {(r["repo"], r["path"]): r.asDict() for r in
           lake.to_df().collect()}
    assert got == {k: {c: v.get(c) for c in genlog.table_spec().col_names}
                   for k, v in result.final_state.items()}


def test_lww_latest_and_txn_summaries(spark, world):
    result, frames_dir = world
    frames = pipeline.read_frames(spark, frames_dir)
    changes = pipeline.decode_to_changes(spark, frames, genlog.table_registry())
    latest = lww_latest(changes)
    # one row per key, and its gtid is the max gtid among that key's changes
    per_key_max = {}
    for c in result.changes:
        key = ((c["after"] or c["before"])["repo"],
               (c["after"] or c["before"])["path"])
        cur = per_key_max.get(key, (-1, -1))
        per_key_max[key] = max(cur, (c["gtid_seq"], c["seq_in_txn"]))
    got = {(r["_k_repo"], r["_k_path"]): (r["gtid_seq"], r["seq_in_txn"])
           for r in latest.collect()}
    assert got == per_key_max

    summ = transaction_summaries(changes)
    row = summ.agg(F.sum("n_events").alias("n")).collect()[0]
    assert row["n"] == len(result.changes)


def test_batch_replay_with_schema_evolution(spark, tmp_path):
    """The accumulator-carried DDL side channel: a mid-stream ALTER TABLE
    ADD COLUMN must evolve the lake schema in-flight (Iceberg ALTER
    semantics) and the post-ALTER rows must land with the new column."""
    gen = genlog.CdcWorldGenerator(seed=11, n_repos=10, paths_per_repo=15,
                                   txns_per_file=30, evolve_at_txn=40)
    result = gen.generate(n_txns=100)
    frames_dir = str(tmp_path / "frames")
    genlog.write_frames_parquet(result, frames_dir)

    lake = LakeTable.create(spark, str(tmp_path / "lake_evo"),
                            columns=genlog.table_spec(False).col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    frames = pipeline.read_frames(spark, frames_dir)
    stats = pipeline.replay_batch(spark, frames, lake,
                                  genlog.table_registry(), batch_id=0)
    assert stats["n_ddls"] == 1
    assert stats["n_changes"] == len(result.changes)
    assert "stars" in lake.meta["columns"]

    got = {(r["repo"], r["path"]): r.asDict() for r in lake.to_df().collect()}
    assert set(got) == set(result.final_state)
    for key, row in result.final_state.items():
        assert got[key]["content"] == row["content"], key
        assert got[key].get("stars") == row.get("stars"), key


def test_arrow_fold_equals_sql_fold(spark, world):
    """The columnar fold equals the pure-Python oracle, key for key and
    field for field, also when key runs span Arrow batches."""
    result, frames_dir = world
    frames = pipeline.read_frames(spark, frames_dir)
    changes = pipeline.decode_to_changes(spark, frames, genlog.table_registry())

    want = fold_oracle(changes)
    assert want == norm_fold(fold_changes(changes))
    # tiny Arrow batches force cross-batch key-run carries in the
    # columnar fold's kernel
    before = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        assert want == norm_fold(fold_changes(changes))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       before)


def test_mariadb_gtid_flavor_decodes(spark, tmp_path):
    """A MariaDB-flavored stream (GTID event 162, sequence+domain payload)
    decodes to the same committed change rows — reference parity with the
    mariadb binlog flavor (replication/binlog_event_mariadb.go)."""
    import struct as _struct

    from binlog_spark.wire import constants as C
    from binlog_spark.wire import events as E

    fmt = E.BinlogFormat()
    spec = genlog.table_spec()
    frames = []
    pos = 4

    def emit(etype, payload, ts=1700000000):
        nonlocal pos
        frame = bytearray(E.packetize(fmt, etype, 0, payload, timestamp=ts,
                                      server_id=1, log_position=pos))
        next_pos = pos + len(frame)
        _struct.pack_into("<I", frame, 13, next_pos & 0xFFFFFFFF)
        frames.append(("binlog.000000", pos, etype, bytes(frame)))
        pos = next_pos

    emit(C.E_FORMAT_DESCRIPTION, E.make_format_description(fmt))
    emit(C.E_GTID_MARIADB, E.make_gtid_mariadb(77, domain=3))
    emit(C.E_QUERY, E.make_query(genlog.DB, "BEGIN"))
    emit(C.E_TABLE_MAP, E.make_table_map(spec, genlog.TABLE_ID))
    row = {"repo": "org0/repo-0001", "path": "src/a.py", "commit": "c" * 40,
           "lang": "py", "content": "print('mariadb')"}
    emit(C.E_WRITE_ROWS_V2,
         E.make_rows_event(spec, genlog.TABLE_ID, C.E_WRITE_ROWS_V2,
                           [(None, row)]))
    emit(C.E_XID, E.make_xid(77))

    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pa.table({
        "file": pa.array([f[0] for f in frames], pa.string()),
        "pos": pa.array([f[1] for f in frames], pa.int64()),
        "etype": pa.array([f[2] for f in frames], pa.int32()),
        "frame": pa.array([f[3] for f in frames], pa.binary()),
    })
    fdir = tmp_path / "maria_frames"
    fdir.mkdir()
    pq.write_table(table, str(fdir / "f.parquet"))

    df = pipeline.read_frames(spark, str(fdir))
    changes = pipeline.decode_to_changes(spark, df, genlog.table_registry())
    got = [r.asDict() for r in changes.collect()]
    assert len(got) == 1
    assert got[0]["gtid_seq"] == 77
    assert got[0]["op"] == "I"
    assert got[0]["after"]["content"] == "print('mariadb')"


def test_changes_to_json_sink(spark, world):
    import json as _json

    from binlog_spark.operators.transactions import changes_to_json

    result, frames_dir = world
    frames = pipeline.read_frames(spark, frames_dir)
    changes = pipeline.decode_to_changes(spark, frames, genlog.table_registry())
    docs = [_json.loads(r["json"]) for r in changes_to_json(changes).collect()]
    assert len(docs) == len(result.changes)
    ops = {d["op"] for d in docs}
    assert ops <= {"I", "U", "D"}
    ins = next(d for d in docs if d["op"] == "I")
    assert "after" in ins and "repo" in ins["after"]


def test_late_cross_batch_changes_do_not_regress_state(spark, world, tmp_path):
    """Cross-batch late data: a batch carrying only OLDER gtids than what
    the lake has applied must be a no-op per key — the row-level
    (gtid, seq) MERGE guard, i.e. the engine's answer to watermarks for
    CDC ordering (SURVEY §2.2)."""
    result, frames_dir = world
    lake = LakeTable.create(spark, str(tmp_path / "lake_late"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    frames = pipeline.read_frames(spark, frames_dir)
    pipeline.replay_batch(spark, frames, lake, genlog.table_registry(),
                          batch_id=0)
    state1 = sorted(tuple(r) for r in lake.to_df().collect())

    # replay only the FIRST HALF of the stream as a later batch: every
    # gtid in it is already applied → state must not move backwards
    changes = pipeline.decode_to_changes(spark, frames,
                                         genlog.table_registry())
    mid = result.changes[len(result.changes) // 2]["gtid_seq"]
    late = changes.where(F.col("gtid_seq") <= mid)
    folded = fold_changes(late, tuple(lake.meta["key"]))
    lake.merge_apply(folded, batch_id="late-batch", max_gtid=mid)
    state2 = sorted(tuple(r) for r in lake.to_df().collect())
    assert state1 == state2


def test_hot_key_chunked_fold_correct(spark):
    """Skew path: one pathological hot key with 20k minimal-image updates
    (plus interleaved I/D) folds exactly — equal to the pure-Python
    oracle, also when its run spans forty Arrow batches."""
    import random

    rng = random.Random(99)
    rows = []
    # hot key: insert, then 20k partial updates, a delete+reinsert mid-way
    rows.append((1, 0, "I", {"repo": "hot/r", "path": "p", "commit": "c0",
                             "lang": "py", "content": "v0"}))
    for g in range(2, 20002):
        if g == 9000:
            rows.append((g, 0, "D", None))
        elif g == 9001:
            rows.append((g, 0, "I", {"repo": "hot/r", "path": "p",
                                     "commit": "c9001", "lang": "go",
                                     "content": "reborn"}))
        else:
            rows.append((g, 0, "U", {"repo": "hot/r", "path": "p",
                                     "commit": f"c{g}",
                                     "content": f"v{g}"}))
    # a handful of cold keys
    for i in range(50):
        rows.append((30000 + i, 0, "I",
                     {"repo": f"cold/r{i}", "path": "p", "commit": "cc",
                      "lang": "rs", "content": f"cold{i}"}))

    df = spark.createDataFrame(
        [(g, g, s, "binlog.000000", g, g + 1, 0, op, "codehub",
          "repo_content",
          {"repo": (after or {}).get("repo", "hot/r"),
           "path": (after or {}).get("path", "p")} if op != "I" else None,
          after)
         for g, s, op, after in rows],
        "gtid_seq long, txn_id long, seq_in_txn int, file string, "
        "pos long, next_pos long, ts long, op string, db string, "
        "tbl string, before map<string,string>, after map<string,string>")

    plain = norm_fold(fold_changes(df))
    assert plain == fold_oracle(df)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "512")
        assert norm_fold(fold_changes(df)) == plain
    finally:
        spark.conf.set(key, before)
    hot = plain[("hot/r", "p")]
    assert hot[1] is True  # reinserted: full image
    assert hot[2]["content"] == "v20001"
    assert hot[2]["lang"] == "go"  # carried from the reinsert, not clobbered
    assert hot[3] == 20001
    assert hot[5] == 20001


def test_multi_table_stream_filters_to_target(spark, tmp_path):
    """A stream interleaving a second table's row events: the lake created
    with a (db, tbl) identity applies only its own table; the other
    table's changes still decode (for other consumers) and never leak
    into the repo-content state."""
    import struct as _struct

    from binlog_spark.wire import constants as C
    from binlog_spark.wire import events as E

    other = E.TableMapSpec(
        database="codehub", name="stars_log",
        columns=[("user", C.TYPE_VARCHAR, 255, False),
                 ("repo", C.TYPE_VARCHAR, 255, False),
                 ("n", C.TYPE_LONG, 0, False)])
    spec = genlog.table_spec()
    registry = dict(genlog.table_registry())
    registry[("codehub", "stars_log")] = [[("user", False), ("repo", False),
                                           ("n", False)]]
    fmt = E.BinlogFormat()
    frames, pos = [], 4

    def emit(etype, payload, ts=1700000000):
        nonlocal pos
        fr = bytearray(E.packetize(fmt, etype, 0, payload, timestamp=ts,
                                   server_id=1, log_position=pos))
        nxt = pos + len(fr)
        _struct.pack_into("<I", fr, 13, nxt & 0xFFFFFFFF)
        frames.append(("binlog.000000", pos, etype, bytes(fr)))
        pos = nxt

    emit(C.E_FORMAT_DESCRIPTION, E.make_format_description(fmt))
    emit(C.E_GTID, E.make_gtid(1))
    emit(C.E_QUERY, E.make_query("codehub", "BEGIN"))
    emit(C.E_TABLE_MAP, E.make_table_map(spec, genlog.TABLE_ID))
    emit(C.E_WRITE_ROWS_V2, E.make_rows_event(
        spec, genlog.TABLE_ID, C.E_WRITE_ROWS_V2,
        [(None, {"repo": "r1", "path": "p1", "commit": "c" * 40,
                 "lang": "py", "content": "keepme"})]))
    emit(C.E_TABLE_MAP, E.make_table_map(other, 9999))
    emit(C.E_WRITE_ROWS_V2, E.make_rows_event(
        other, 9999, C.E_WRITE_ROWS_V2,
        [(None, {"user": "alice", "repo": "r1", "n": "5"})]))
    emit(C.E_XID, E.make_xid(1))

    import pyarrow as pa
    import pyarrow.parquet as pq
    t = pa.table({"file": pa.array([f[0] for f in frames]),
                  "pos": pa.array([f[1] for f in frames], pa.int64()),
                  "etype": pa.array([f[2] for f in frames], pa.int32()),
                  "frame": pa.array([f[3] for f in frames], pa.binary())})
    d = tmp_path / "mt_frames"
    d.mkdir()
    pq.write_table(t, str(d / "f.parquet"))

    fr = pipeline.read_frames(spark, str(d))
    # both tables decode
    changes = pipeline.decode_to_changes(spark, fr, registry)
    tbls = {r["tbl"] for r in changes.collect()}
    assert tbls == {"repo_content", "stars_log"}

    lake = LakeTable.create(spark, str(tmp_path / "lake_mt"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=2,
                            table=("codehub", "repo_content"))
    stats = pipeline.replay_batch(spark, fr, lake, registry, batch_id=0)
    assert stats["n_changes"] == 1  # only the repo_content row applied
    rows = [r.asDict() for r in lake.to_df().collect()]
    assert len(rows) == 1 and rows[0]["content"] == "keepme"
    assert "user" not in rows[0]


def _two_table_world():
    """Mixed repo_content + stars_log stream: 4 txns of inserts, a
    partial update, and a delete across both tables. Returns
    (frames, registry, expected_docs, expected_stars)."""
    import struct as _struct

    from binlog_spark.wire import constants as C
    from binlog_spark.wire import events as E

    other = E.TableMapSpec(
        database="codehub", name="stars_log",
        columns=[("user", C.TYPE_VARCHAR, 255, False),
                 ("repo", C.TYPE_VARCHAR, 255, False),
                 ("n", C.TYPE_LONG, 0, False)])
    spec = genlog.table_spec()
    registry = dict(genlog.table_registry())
    registry[("codehub", "stars_log")] = [[("user", False), ("repo", False),
                                          ("n", False)]]
    fmt = E.BinlogFormat()
    frames, pos, gtid = [], 4, 0

    def emit(etype, payload):
        nonlocal pos
        fr = bytearray(E.packetize(fmt, etype, 0, payload,
                                   timestamp=1700000000, server_id=1,
                                   log_position=pos))
        nxt = pos + len(fr)
        _struct.pack_into("<I", fr, 13, nxt & 0xFFFFFFFF)
        frames.append(("binlog.000000", pos, etype, bytes(fr)))
        pos = nxt

    def txn(*events):
        nonlocal gtid
        gtid += 1
        emit(C.E_GTID, E.make_gtid(gtid))
        emit(C.E_QUERY, E.make_query("codehub", "BEGIN"))
        for etype, spec_, tid, rows in events:
            emit(C.E_TABLE_MAP, E.make_table_map(spec_, tid))
            emit(etype, E.make_rows_event(spec_, tid, etype, rows))
        emit(C.E_XID, E.make_xid(gtid))

    doc = {"repo": "r1", "path": "p1", "commit": "c" * 40, "lang": "py",
           "content": "v1"}
    doc2 = {"repo": "r2", "path": "p2", "commit": "d" * 40, "lang": "go",
            "content": "gone"}
    emit(C.E_FORMAT_DESCRIPTION, E.make_format_description(fmt))
    txn((C.E_WRITE_ROWS_V2, spec, genlog.TABLE_ID, [(None, doc)]),
        (C.E_WRITE_ROWS_V2, other, 9999,
         [(None, {"user": "alice", "repo": "r1", "n": "5"})]))
    txn((C.E_WRITE_ROWS_V2, spec, genlog.TABLE_ID, [(None, doc2)]),
        (C.E_UPDATE_ROWS_V2, other, 9999,
         [({"user": "alice", "repo": "r1"}, {"n": "7"})]))
    txn((C.E_UPDATE_ROWS_V2, spec, genlog.TABLE_ID,
         [({"repo": "r1", "path": "p1"}, {"content": "v2"})]),
        (C.E_WRITE_ROWS_V2, other, 9999,
         [(None, {"user": "bob", "repo": "r2", "n": "1"})]))
    txn((C.E_DELETE_ROWS_V2, spec, genlog.TABLE_ID,
         [({"repo": "r2", "path": "p2"}, None)]))
    return (frames, registry, {("r1", "p1"): "v2"},
            {("alice", "r1"): "7", ("bob", "r2"): "1"})


def _write_frame_file(frames, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"file": pa.array([f[0] for f in frames]),
                  "pos": pa.array([f[1] for f in frames], pa.int64()),
                  "etype": pa.array([f[2] for f in frames], pa.int32()),
                  "frame": pa.array([f[3] for f in frames], pa.binary())})
    pq.write_table(t, str(path))


def test_replay_batch_multi_one_lake_matches_replay_batch(spark, world,
                                                          tmp_path):
    """``replay_batch`` is ``replay_batch_multi`` with one lake: same
    stats, same lake state, same lineage counts, for a lake with no
    recorded table identity (``None`` key: no table filter) and one
    with it."""
    import json as _json

    result, frames_dir = world
    frames = pipeline.read_frames(spark, frames_dir)
    for table in (None, ("codehub", "repo_content")):
        out = []
        for tag in ("single", "multi"):
            lake = LakeTable.create(
                spark, str(tmp_path / f"{tag}-{table is None}"),
                columns=genlog.table_spec().col_names,
                key_cols=list(genlog.KEY_COLS), n_buckets=4, table=table)
            if tag == "single":
                stats = pipeline.replay_batch(
                    spark, frames, lake, genlog.table_registry(), batch_id=0)
            else:
                stats = pipeline.replay_batch_multi(
                    spark, frames, {table: lake}, genlog.table_registry(),
                    batch_id=0)[table]
            with open(tmp_path / f"{tag}-{table is None}" / "_lineage"
                      / "batch-0.json") as f:
                doc = _json.load(f)
            out.append((stats, sorted(tuple(r) for r in
                                      lake.to_df().collect()),
                        doc["metrics"]["n_changes"],
                        sorted(r["n_changes"] for r in doc["files"])))
        assert out[0] == out[1]
        assert out[0][0]["n_changes"] == len(result.changes)
        assert out[0][2] == len(result.changes)


def test_replay_batch_multi_fans_out_one_decode(spark, tmp_path):
    """Multi-table fan-out: ONE decode/assembly pass applies a mixed
    stream to several lake tables, each with its own key, exactly-once
    state, and final-state parity; re-applying the batch no-ops both."""
    frames, registry, want_docs, want_stars = _two_table_world()
    d = tmp_path / "fanout_frames"
    d.mkdir()
    _write_frame_file(frames, d / "f.parquet")
    fr = pipeline.read_frames(spark, str(d))

    lake_docs = LakeTable.create(
        spark, str(tmp_path / "lk_docs"),
        columns=genlog.table_spec().col_names,
        key_cols=list(genlog.KEY_COLS), n_buckets=2,
        table=("codehub", "repo_content"))
    lake_stars = LakeTable.create(
        spark, str(tmp_path / "lk_stars"),
        columns=["user", "repo", "n"], key_cols=["user", "repo"],
        n_buckets=2, table=("codehub", "stars_log"))

    stats = pipeline.replay_batch_multi(
        spark, fr, {("codehub", "repo_content"): lake_docs,
                    ("codehub", "stars_log"): lake_stars},
        registry, batch_id=0)
    assert stats[("codehub", "repo_content")]["n_changes"] == 4
    assert stats[("codehub", "stars_log")]["n_changes"] == 3

    docs = {(r["repo"], r["path"]): r["content"]
            for r in lake_docs.to_df().collect()}
    assert docs == want_docs  # r2/p2 deleted, r1 patched
    stars = {(r["user"], r["repo"]): r["n"]
             for r in lake_stars.to_df().collect()}
    assert stars == want_stars

    # exactly-once: re-applying the same batch no-ops BOTH lakes
    lake_docs2 = LakeTable(spark, str(tmp_path / "lk_docs"))
    lake_stars2 = LakeTable(spark, str(tmp_path / "lk_stars"))
    stats2 = pipeline.replay_batch_multi(
        spark, fr, {("codehub", "repo_content"): lake_docs2,
                    ("codehub", "stars_log"): lake_stars2},
        registry, batch_id=0)
    assert all(s["skipped"] for s in stats2.values())


def test_fanout_partial_crash_then_redelivery(spark, tmp_path):
    """Exactly-once under a crash BETWEEN per-table merges: the batch
    lands in lake A but not lake B (simulated by fanning out to A only),
    then the whole batch is re-delivered to both — A must no-op on its
    batch id while B catches up, and both end at parity."""
    frames, registry, want_docs, want_stars = _two_table_world()
    d = tmp_path / "crash_frames"
    d.mkdir()
    _write_frame_file(frames, d / "f.parquet")
    fr = pipeline.read_frames(spark, str(d))

    lake_docs = LakeTable.create(
        spark, str(tmp_path / "clk_docs"),
        columns=genlog.table_spec().col_names,
        key_cols=list(genlog.KEY_COLS), n_buckets=2,
        table=("codehub", "repo_content"))
    lake_stars = LakeTable.create(
        spark, str(tmp_path / "clk_stars"),
        columns=["user", "repo", "n"], key_cols=["user", "repo"],
        n_buckets=2, table=("codehub", "stars_log"))

    # "crash": only the docs merge committed before the process died
    pipeline.replay_batch_multi(
        spark, fr, {("codehub", "repo_content"): lake_docs},
        registry, batch_id=7)

    # re-delivery of the SAME batch to both tables
    stats = pipeline.replay_batch_multi(
        spark, fr,
        {("codehub", "repo_content"): LakeTable(spark,
                                                str(tmp_path / "clk_docs")),
         ("codehub", "stars_log"): LakeTable(spark,
                                             str(tmp_path / "clk_stars"))},
        registry, batch_id=7)
    assert stats[("codehub", "repo_content")]["skipped"]       # no-op
    assert not stats[("codehub", "stars_log")]["skipped"]      # catches up

    docs = {(r["repo"], r["path"]): r["content"]
            for r in LakeTable(spark, str(tmp_path / "clk_docs"))
            .to_df().collect()}
    stars = {(r["user"], r["repo"]): r["n"]
             for r in LakeTable(spark, str(tmp_path / "clk_stars"))
             .to_df().collect()}
    assert docs == want_docs
    assert stars == want_stars


def test_run_stream_multi_two_microbatches(spark, tmp_path):
    """Streaming fan-out: the mixed stream split across two microbatches
    (second batch's rows depend on the persisted TABLE_MAP cache for
    nothing — each txn re-sends its maps — but the FORMAT_DESCRIPTION
    arrives only in batch 1 and must carry over via the meta store)."""
    import json as _json
    import os as _os
    import time as _time

    from binlog_spark.streaming.pipeline import run_stream

    frames, registry, want_docs, want_stars = _two_table_world()
    # split between transactions: after the 2nd XID
    from binlog_spark.wire import constants as C
    xid_idx = [i for i, f in enumerate(frames) if f[2] == C.E_XID]
    cut = xid_idx[1] + 1
    d = tmp_path / "stream_fanout"
    d.mkdir()
    now = _time.time()
    _write_frame_file(frames[:cut], d / "f1.parquet")
    _os.utime(d / "f1.parquet", (now - 20, now - 20))
    _write_frame_file(frames[cut:], d / "f2.parquet")
    _os.utime(d / "f2.parquet", (now - 10, now - 10))

    lake_docs = LakeTable.create(
        spark, str(tmp_path / "slk_docs"),
        columns=genlog.table_spec().col_names,
        key_cols=list(genlog.KEY_COLS), n_buckets=2,
        table=("codehub", "repo_content"))
    lake_stars = LakeTable.create(
        spark, str(tmp_path / "slk_stars"),
        columns=["user", "repo", "n"], key_cols=["user", "repo"],
        n_buckets=2, table=("codehub", "stars_log"))

    q = run_stream(
        spark, str(d),
        {("codehub", "repo_content"): str(tmp_path / "slk_docs"),
         ("codehub", "stars_log"): str(tmp_path / "slk_stars")},
        registry, checkpoint_dir=str(tmp_path / "sck"),
        max_files_per_trigger=1)
    q.awaitTermination()

    docs = {(r["repo"], r["path"]): r["content"]
            for r in LakeTable(spark, str(tmp_path / "slk_docs"))
            .to_df().collect()}
    stars = {(r["user"], r["repo"]): r["n"]
             for r in LakeTable(spark, str(tmp_path / "slk_stars"))
             .to_df().collect()}
    assert docs == want_docs
    assert stars == want_stars
    assert len(LakeTable(spark, str(tmp_path / "slk_docs"))
               .meta["applied_batches"]) >= 2
    # every microbatch leaves a lineage record in EVERY lake
    for name in ("slk_docs", "slk_stars"):
        applied = LakeTable(spark, str(tmp_path / name)).meta[
            "applied_batches"]
        assert applied == ["stream-0", "stream-1"]
        for bid in applied:
            with open(tmp_path / name / "_lineage" / f"batch-{bid}.json") as f:
                assert _json.load(f)["batch_id"] == bid


def _widening_frames(narrow_rows, wide_txns):
    """Frames of one binlog file for table ``db.m`` ``(k, n)``: one
    insert transaction per row of ``narrow_rows`` under ``n INT``, then
    the widening ALTER, then ``wide_txns`` — ``(etype, rows)`` pairs —
    under ``n BIGINT``, every transaction with its own TABLE_MAP."""
    import struct as _struct

    from binlog_spark.wire import constants as C
    from binlog_spark.wire import events as E

    cols_narrow = [("k", C.TYPE_VARCHAR, 255, False),
                   ("n", C.TYPE_LONG, 0, False)]
    cols_wide = [("k", C.TYPE_VARCHAR, 255, False),
                 ("n", C.TYPE_LONGLONG, 0, False)]
    narrow = E.TableMapSpec(database="db", name="m", columns=cols_narrow)
    wide = E.TableMapSpec(database="db", name="m", columns=cols_wide)

    fmt = E.BinlogFormat()
    frames, pos, gtid = [], 4, 0

    def emit(etype, payload):
        nonlocal pos
        fr = bytearray(E.packetize(fmt, etype, 0, payload,
                                   timestamp=1700000000, server_id=1,
                                   log_position=pos))
        nxt = pos + len(fr)
        _struct.pack_into("<I", fr, 13, nxt & 0xFFFFFFFF)
        frames.append(("binlog.000000", pos, etype, bytes(fr)))
        pos = nxt

    def txn(spec_, etype, rows, ddl=None):
        nonlocal gtid
        gtid += 1
        emit(C.E_GTID, E.make_gtid(gtid))
        if ddl:
            emit(C.E_QUERY, E.make_query("db", ddl))
            return
        emit(C.E_QUERY, E.make_query("db", "BEGIN"))
        emit(C.E_TABLE_MAP, E.make_table_map(spec_, 77))
        emit(etype, E.make_rows_event(spec_, 77, etype, rows))
        emit(C.E_XID, E.make_xid(gtid))

    emit(C.E_FORMAT_DESCRIPTION, E.make_format_description(fmt))
    for row in narrow_rows:
        txn(narrow, C.E_WRITE_ROWS_V2, [(None, row)])
    # the widening ALTER arrives as a QUERY event (classified, logged,
    # not applied — same as the reference), then TABLE_MAP carries the
    # new type vector
    txn(None, None, None, ddl="ALTER TABLE m MODIFY COLUMN n BIGINT")
    for etype, rows in wide_txns:
        txn(wide, etype, rows)
    return frames


_WIDEN_REGISTRY = {("db", "m"): [[("k", False), ("n", False)]]}


def test_type_widening_mid_stream(spark, tmp_path):
    """ALTER-driven type WIDENING (north rule: column add/type-widen):
    the TABLE_MAP's type vector changes INT→BIGINT mid-stream at the
    same column count. The width-keyed schema lookup binds the same name
    vector, cells decode through the new wire type, and the canonical
    byte-string model makes the widened values land losslessly —
    including one beyond int32 range."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from binlog_spark.wire import constants as C

    frames = _widening_frames(
        [{"k": "a", "n": "41"}],
        [(C.E_WRITE_ROWS_V2,
          [(None, {"k": "b", "n": str(2**40 + 7)})]),  # beyond int32
         (C.E_UPDATE_ROWS_V2, [({"k": "a"}, {"n": "42"})])])

    t = pa.table({"file": pa.array([f[0] for f in frames]),
                  "pos": pa.array([f[1] for f in frames], pa.int64()),
                  "etype": pa.array([f[2] for f in frames], pa.int32()),
                  "frame": pa.array([f[3] for f in frames], pa.binary())})
    d = tmp_path / "widen_frames"
    d.mkdir()
    pq.write_table(t, str(d / "f.parquet"))

    lake = LakeTable.create(spark, str(tmp_path / "lk_widen"),
                            columns=["k", "n"], key_cols=["k"],
                            n_buckets=2, table=("db", "m"))
    fr = pipeline.read_frames(spark, str(d))
    stats = pipeline.replay_batch(spark, fr, lake, _WIDEN_REGISTRY,
                                  batch_id=0)
    assert stats["n_changes"] == 3
    got = {r["k"]: r["n"] for r in lake.to_df().collect()}
    assert got == {"a": "42", "b": str(2**40 + 7)}


def test_type_widening_split_layout(spark, tmp_path, monkeypatch):
    """The widening world with its one file out of position order: over
    8 partitions (``repartition(8)``: every partition holds a shuffled
    slice), and in one partition in reverse order. The file takes the
    window path, decoded under the TABLE_MAP versions the decode tasks'
    overlays reported — a task that meets a BIGINT TABLE_MAP before
    every INT one must still index the INT ones, and the BIGINT ones it
    meets after — with no discovery job: the batch runs three collects
    (the summary, the summary over the rebuilt change set, the MERGE).
    The versions the batch hands on to the next one resolve every
    TABLE_MAP's position to that TABLE_MAP's own types."""
    import bisect

    from binlog_spark.schema import FRAME_SCHEMA
    from binlog_spark.wire import constants as C
    from binlog_spark.wire import events as E

    frames = _widening_frames(
        [{"k": f"a{i}", "n": str(i)} for i in range(6)],
        [(C.E_WRITE_ROWS_V2, [(None, {"k": f"b{i}",
                                      "n": str(2**40 + 7 + i)})])
         for i in range(6)])
    want = {f"a{i}": str(i) for i in range(6)}
    want.update({f"b{i}": str(2**40 + 7 + i) for i in range(6)})
    fmt = E.BinlogFormat()
    tm_types = {p: E.parse_table_map(fmt, E.strip_checksum(
        fmt, et, fr)).types for _, p, et, fr in frames
        if et == C.E_TABLE_MAP}
    layouts = {
        "split": spark.createDataFrame(frames, FRAME_SCHEMA).repartition(8),
        "reversed": spark.createDataFrame(frames[::-1],
                                          FRAME_SCHEMA).coalesce(1),
    }
    for name, frames_df in layouts.items():
        lake = LakeTable.create(spark, str(tmp_path / f"lk_widen_{name}"),
                                columns=["k", "n"], key_cols=["k"],
                                n_buckets=2, table=("db", "m"))
        collects = []
        cls = type(frames_df)
        collect = cls.collect
        monkeypatch.setattr(cls, "collect", lambda self: (
            collects.append(self) or collect(self)))
        meta = {"checksum_alg": C.CHECKSUM_ALG_CRC32, "table_maps": {}}
        stats = pipeline.replay_batch(spark, frames_df, lake,
                                      _WIDEN_REGISTRY, batch_id=0,
                                      stream_meta=meta)
        monkeypatch.undo()
        vers = meta["table_maps"][("binlog.000000", 77)]
        at = [v[0] for v in vers]
        for pos, types in tm_types.items():
            vi = bisect.bisect_right(at, pos) - 1
            assert vi >= 0 and list(vers[vi][1][2]) == list(types), (
                name, pos)
        assert len(collects) == 3, name
        assert stats["fallback_files"] == 1, name
        assert stats["n_changes"] == 12, name
        got = {r["k"]: r["n"] for r in lake.to_df().collect()}
        assert got == want, name


def test_run_stream_multi_kill_and_resume(spark, tmp_path):
    """Fan-out streaming resume: the query terminates after the first
    file (a kill between microbatches), more stream arrives, and a new
    query on the SAME checkpoint resumes both lakes to parity without
    re-applying the first batch."""
    import os as _os
    import time as _time

    from binlog_spark.streaming.pipeline import run_stream
    from binlog_spark.wire import constants as C

    frames, registry, want_docs, want_stars = _two_table_world()
    xid_idx = [i for i, f in enumerate(frames) if f[2] == C.E_XID]
    cut = xid_idx[1] + 1
    d = tmp_path / "resume_fanout"
    d.mkdir()
    now = _time.time()
    _write_frame_file(frames[:cut], d / "f1.parquet")
    _os.utime(d / "f1.parquet", (now - 20, now - 20))

    lakes = {("codehub", "repo_content"): str(tmp_path / "rlk_docs"),
             ("codehub", "stars_log"): str(tmp_path / "rlk_stars")}
    LakeTable.create(spark, lakes[("codehub", "repo_content")],
                     columns=genlog.table_spec().col_names,
                     key_cols=list(genlog.KEY_COLS), n_buckets=2,
                     table=("codehub", "repo_content"))
    LakeTable.create(spark, lakes[("codehub", "stars_log")],
                     columns=["user", "repo", "n"],
                     key_cols=["user", "repo"], n_buckets=2,
                     table=("codehub", "stars_log"))
    ckpt = str(tmp_path / "rck")

    # phase 1: only the first file exists — the query drains it and stops
    q = run_stream(spark, str(d), lakes, registry, ckpt,
                   max_files_per_trigger=1)
    q.awaitTermination()
    mid_docs = LakeTable(spark, lakes[("codehub", "repo_content")])
    applied_mid = list(mid_docs.meta["applied_batches"])
    assert applied_mid  # at least one microbatch committed

    # the rest of the stream lands; resume from the same checkpoint
    _write_frame_file(frames[cut:], d / "f2.parquet")
    _os.utime(d / "f2.parquet", (now - 10, now - 10))
    q2 = run_stream(spark, str(d), lakes, registry, ckpt,
                    max_files_per_trigger=1)
    q2.awaitTermination()

    docs = {(r["repo"], r["path"]): r["content"]
            for r in LakeTable(spark, lakes[("codehub", "repo_content")])
            .to_df().collect()}
    stars = {(r["user"], r["repo"]): r["n"]
             for r in LakeTable(spark, lakes[("codehub", "stars_log")])
             .to_df().collect()}
    assert docs == want_docs
    assert stars == want_stars
    final_docs = LakeTable(spark, lakes[("codehub", "repo_content")])
    # the first batch was not re-applied: its id appears exactly once
    assert final_docs.meta["applied_batches"].count(applied_mid[0]) == 1
    assert len(final_docs.meta["applied_batches"]) > len(applied_mid)


def test_vacuum_drops_superseded_versions(spark, world, tmp_path):
    result, frames_dir = world
    lake = LakeTable.create(spark, str(tmp_path / "lake_vac"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    frames = pipeline.read_frames(spark, frames_dir)
    # two applies (second is a differently-keyed replay → new version)
    pipeline.replay_batch(spark, frames, lake, genlog.table_registry(),
                          batch_id=0)
    before = sorted(tuple(r) for r in lake.to_df().collect())
    import os as _os
    data_dir = str(tmp_path / "lake_vac" / "data")
    n_before = len(_os.listdir(data_dir))
    pipeline.replay_batch(spark, frames, lake, genlog.table_registry(),
                          batch_id=1)
    stats = lake.vacuum()
    after = sorted(tuple(r) for r in lake.to_df().collect())
    assert after == before  # vacuum never changes visible state
    assert stats["removed_versions"] >= 1 or n_before == len(
        _os.listdir(data_dir))


class _DynamicMapper:
    """User-pluggable schema provider (MysqlTableMapper analogue): serves
    column names/signedness computed at stream time, no static registry.
    Must be picklable — it rides the broadcast to executors."""

    def __init__(self, registry):
        self._reg = registry  # stands in for a DESC-style backend

    def mysql_table(self, db, tbl, ncols):
        for cols in self._reg.get((db, tbl), []):
            if len(cols) == ncols:
                return cols
        return None

    def knows(self, db, tbl):
        return (db, tbl) in self._reg


def test_pluggable_table_mapper_resolves_at_stream_time(spark, world):
    """decode accepts any object with mysql_table(db, tbl, ncols) in place
    of the registry dict — the reference's pluggable MysqlTableMapper
    (row_streamer.go:19-21) — and produces identical change rows."""
    result, frames_dir = world
    frames = pipeline.read_frames(spark, frames_dir)
    mapper = _DynamicMapper(genlog.table_registry())
    changes = pipeline.decode_to_changes(spark, frames, mapper)
    got = [_norm_change(r.asDict()) for r in changes.collect()]
    want = [_norm_change(c) for c in result.changes]
    assert sorted(got) == sorted(want)


class _EmptyMapper:  # module-level: broadcast values use plain pickle
    def mysql_table(self, db, tbl, ncols):
        return None

    def knows(self, db, tbl):
        return False


class _WrongWidthMapper:
    def mysql_table(self, db, tbl, ncols):
        return None

    def knows(self, db, tbl):
        return True  # table known, width unservable


def test_unknown_table_and_width_mismatch_deadletter(spark, world):
    """Provider misses: unknown table vs known-table-wrong-width produce
    the two distinct dead-letter reasons (row_streamer.go:236-241)."""
    from binlog_spark.operators.decode import (decode_frames,
                                               discover_stream_meta)

    result, frames_dir = world
    frames = pipeline.read_frames(spark, frames_dir)
    meta = discover_stream_meta(frames)

    decoded = decode_frames(spark, frames, meta, _EmptyMapper())
    reasons = {r["reason"] for r in
               decoded.where(F.col("kind") == "deadletter").collect()}
    assert any("not in registry" in r for r in reasons)

    decoded2 = decode_frames(spark, frames, meta, _WrongWidthMapper())
    reasons2 = {r["reason"] for r in
                decoded2.where(F.col("kind") == "deadletter").collect()}
    assert "column count mismatch" in reasons2


def test_vacuum_expires_orphaned_snapshots(spark, world, tmp_path):
    """Vacuum prunes snapshot-log entries whose data versions it removes,
    so every advertised time-travel point stays readable and a vacuumed
    version raises the clear no-snapshot error (r1 advice: snapshots()
    used to keep advertising points whose read crashed on a missing
    parquet path)."""
    result, frames_dir = world
    lake = LakeTable.create(spark, str(tmp_path / "lake_vexp"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=1)
    all_frames = pipeline.read_frames(spark, frames_dir)
    files = sorted({c["file"] for c in result.changes})
    pipeline.replay_batch(spark, all_frames.where(F.col("file") == files[0]),
                          lake, genlog.table_registry(), batch_id=0)
    v1 = lake.meta["version"]
    # second batch rewrites the single bucket → v1 fully superseded
    pipeline.replay_batch(spark, all_frames.where(F.col("file") > files[0]),
                          lake, genlog.table_registry(), batch_id=1)
    assert any(s["version"] == v1 for s in lake.snapshots())

    stats = lake.vacuum()
    assert stats["removed_versions"] >= 1
    assert stats["expired_snapshots"] >= 1
    snaps = lake.snapshots()
    assert all(s["version"] != v1 for s in snaps)
    for s in snaps:  # everything still advertised is actually readable
        lake.to_df(at_version=s["version"]).count()
    with pytest.raises(ValueError, match="no snapshot"):
        lake.read(at_version=v1)


def test_resume_cursor_pushes_down_and_replays_suffix(spark, world, tmp_path):
    """P5 batch analogue: resume from (file, pos) — the predicate reaches
    the parquet scan, and replaying [start, end] onto a lake that already
    has [begin, start) reproduces the full final state."""
    from binlog_spark import plans

    result, frames_dir = world
    files = sorted({c["file"] for c in result.changes})
    cut_file = files[len(files) // 2]
    # resume tokens are transaction boundaries (the reference's
    # NextPosition, row_streamer.go:107-118): cut at a GTID event start
    from binlog_spark.wire import constants as C
    gtid_starts = [p for f, p, et, _ in result.frames
                   if f == cut_file and et == C.E_GTID]
    cut_pos = gtid_starts[len(gtid_starts) // 2]

    suffix = pipeline.read_frames_from(spark, frames_dir, cut_file, cut_pos)
    assert plans.has_pushed_filter(suffix, "file"), plans.physical_plan(suffix)

    # apply prefix then resume with the suffix
    prefix = pipeline.read_frames(spark, frames_dir).where(
        (F.col("file") < cut_file)
        | ((F.col("file") == cut_file) & (F.col("pos") < cut_pos)))
    lake = LakeTable.create(spark, str(tmp_path / "lake_res"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    pipeline.replay_batch(spark, prefix, lake, genlog.table_registry(),
                          batch_id=0)
    # FORMAT_DESCRIPTION of the cut file precedes the cut; re-union it so
    # the suffix is self-describing (a real dump re-sends it on connect)
    pipeline.replay_batch(spark, suffix, lake, genlog.table_registry(),
                          batch_id=1, stream_meta=None)

    got = {(r["repo"], r["path"]): r["content"]
           for r in lake.to_df().collect()}
    want = {k: v["content"] for k, v in result.final_state.items()}
    assert got == want


def test_time_travel_snapshots(spark, world, tmp_path):
    """Iceberg-snapshot analogue: every merge commit logs its bucket map;
    reading at an old version reproduces that batch's exact state."""
    result, frames_dir = world
    lake = LakeTable.create(spark, str(tmp_path / "lake_tt"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    all_frames = pipeline.read_frames(spark, frames_dir)
    files = sorted({c["file"] for c in result.changes})
    first = all_frames.where(F.col("file") == files[0])
    pipeline.replay_batch(spark, first, lake, genlog.table_registry(),
                          batch_id=0)
    v1 = lake.meta["version"]
    state_v1 = sorted(tuple(r) for r in lake.to_df().collect())

    rest = all_frames.where(F.col("file") > files[0])
    pipeline.replay_batch(spark, rest, lake, genlog.table_registry(),
                          batch_id=1)
    assert lake.meta["version"] > v1
    # current state differs, but the v1 snapshot is still readable
    assert sorted(tuple(r) for r in lake.to_df(at_version=v1).collect()) \
        == state_v1
    snaps = lake.snapshots()
    assert [s["version"] for s in snaps] == sorted(s["version"] for s in snaps)
    assert snaps[-1]["last_gtid"] == lake.meta["last_gtid"]


def test_foreign_table_ddl_does_not_evolve_lake(spark, tmp_path):
    """Multi-table stream: another table's ALTER must not add columns to
    this lake (review finding: apply_ddls used to ignore the statement's
    table token)."""
    lake = LakeTable.create(spark, str(tmp_path / "lake_fddl"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=2,
                            table=("codehub", "repo_content"))
    pipeline.apply_ddls(lake, [
        {"sql": "ALTER TABLE stars_log ADD COLUMN fork_count INT"},
        {"sql": "ALTER TABLE codehub.stars_log ADD forks INT"},
        {"sql": "ALTER TABLE `repo_content` ADD COLUMN stars INT"},
        {"sql": "ALTER TABLE codehub.repo_content ADD COLUMN watchers INT"},
    ])
    assert "fork_count" not in lake.meta["columns"]
    assert "forks" not in lake.meta["columns"]
    assert "stars" in lake.meta["columns"]       # bare own-table name
    assert "watchers" in lake.meta["columns"]    # db-qualified own table


def test_add_column_backquoted_and_if_not_exists(spark, tmp_path):
    """A backquoted column name and MariaDB's ``IF NOT EXISTS`` evolve
    the named column (they used to evolve ``COLUMN`` and ``IF``, and the
    real column's values were silently dropped from the lake)."""
    lake = LakeTable.create(spark, str(tmp_path / "lake_qddl"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=2,
                            table=("codehub", "repo_content"))
    pipeline.apply_ddls(lake, [
        {"sql": "ALTER TABLE repo_content ADD COLUMN `stars` INT"},
        {"sql": "ALTER TABLE repo_content ADD COLUMN IF NOT EXISTS stars INT"},
    ])
    assert lake.meta["columns"] == genlog.table_spec().col_names + ["stars"]


def test_bucket_emptied_within_batch_stays_readable(spark, tmp_path):
    """Review finding: a changed bucket whose every key is inserted AND
    deleted within the batch produces no output rows — the manifest must
    not point at a never-written directory (read() used to crash)."""
    from binlog_spark.operators.lww import fold_changes as _fold

    lake = LakeTable.create(spark, str(tmp_path / "lake_phantom"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=2)
    base = {"repo": "r", "path": "p", "commit": "c", "lang": "py",
            "content": "x"}
    changes = spark.createDataFrame(
        [(1, 1, 0, "f", 4, 5, 0, "I", "codehub", "repo_content", None, base),
         (2, 2, 0, "f", 5, 6, 0, "D", "codehub", "repo_content",
          {"repo": "r", "path": "p"}, None)],
        "gtid_seq long, txn_id long, seq_in_txn int, file string, pos long, "
        "next_pos long, ts long, op string, db string, tbl string, "
        "before map<string,string>, after map<string,string>")
    stats = lake.merge_apply(_fold(changes), batch_id=0, max_gtid=2)
    assert not stats.get("skipped")
    # readable, and empty — no phantom directory in the manifest
    assert lake.to_df().count() == 0
    assert lake.read().count() == 0

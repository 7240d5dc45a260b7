"""LWW fold correctness under the DEFAULT map-key dedup policy.

r4 regression guard: the columnar fold assembled its row image with
``map_from_arrays`` and silently relied on
``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (set only by the repo's own
``get_spark``). Under a consumer-supplied default-config session the
policy is EXCEPTION, so any key whose fold contained two patches of the
same column threw ``DUPLICATED_MAP_KEY`` — crashing the replay family
(`cdc_replay_final_state` = ``entry()``, `cdc_bootstrap_catchup`,
`cdc_schema_evolution`, `cdc_replay_raw_files`) in CORRECTNESS_r04.

These tests pin the policy to EXCEPTION explicitly (the strictest
setting, and Spark's default) and drive the columnar fold, its
pure-Python oracle, and the full ``replay_batch`` e2e over a stream dense
in duplicate-column patches.
"""

import numpy as np
import pyarrow as pa
import pytest

from binlog_spark import genlog, pipeline
from binlog_spark import schema as S
from binlog_spark.operators.lww import _dedup_keep_last, fold_changes
from binlog_spark.operators.merge import LakeTable
from tests.fold_oracle import fold_oracle, norm_fold


@pytest.fixture()
def strict_policy(spark):
    """Force the EXCEPTION dedup policy (Spark's default) for the test,
    restoring whatever the session had afterwards."""
    key = "spark.sql.mapKeyDedupPolicy"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "EXCEPTION")
    yield spark
    if prev is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prev)


def _mk_changes(spark, rows):
    return spark.createDataFrame(rows, S.CHANGE_SCHEMA)


def _row(g, s, op, after, before=None):
    return (g, g, s, "binlog.000001", 100 + g * 10 + s, 100 + g * 10 + s + 9,
            1700000000 + g, op, "d", "t", before, after)


# a stream where EVERY key's fold sees the same column patched twice —
# the exact shape that threw DUPLICATED_MAP_KEY pre-fix
DUP_PATCH_ROWS = [
    # key A: insert carries content, then two updates patch content again
    _row(1, 0, "I", {"repo": "A", "path": "p", "content": "v0", "lang": "go"}),
    _row(2, 0, "U", {"repo": "A", "path": "p", "content": "v1"},
         {"repo": "A", "path": "p"}),
    _row(3, 0, "U", {"repo": "A", "path": "p", "content": "v2"},
         {"repo": "A", "path": "p"}),
    # key B: no insert in-batch (pure patch fold), same column twice,
    # one patch setting an explicit NULL that must still overwrite
    _row(4, 0, "U", {"repo": "B", "path": "q", "lang": "py"},
         {"repo": "B", "path": "q"}),
    _row(5, 0, "U", {"repo": "B", "path": "q", "lang": None},
         {"repo": "B", "path": "q"}),
    _row(6, 0, "U", {"repo": "B", "path": "q", "content": "zz"},
         {"repo": "B", "path": "q"}),
    # key C: delete then re-insert then patch (reset mid-run)
    _row(7, 0, "D", None, {"repo": "C", "path": "r"}),
    _row(8, 0, "I", {"repo": "C", "path": "r", "content": "c0"}),
    _row(9, 0, "U", {"repo": "C", "path": "r", "content": "c1"},
         {"repo": "C", "path": "r"}),
]

# (del, full, m, g, s, n_events) per key
EXPECT = {
    ("A", "p"): (False, True,
                 {"repo": "A", "path": "p", "content": "v2", "lang": "go"},
                 3, 0, 3),
    ("B", "q"): (False, False,
                 {"repo": "B", "path": "q", "lang": None, "content": "zz"},
                 6, 0, 3),
    ("C", "r"): (False, True,
                 {"repo": "C", "path": "r", "content": "c1"}, 9, 0, 3),
}


@pytest.mark.parametrize("engine", ["columnar", "oracle"])
def test_fold_engines_default_policy(strict_policy, engine):
    spark = strict_policy
    changes = _mk_changes(spark, DUP_PATCH_ROWS)
    if engine == "oracle":
        assert fold_oracle(changes) == EXPECT
    else:
        assert norm_fold(fold_changes(changes, ("repo", "path"))) == EXPECT


def test_columnar_carry_path_dedup(strict_policy):
    """Force a key run to span Arrow batches so the _Carry merge path
    (not just the vectorized batch path) must dedupe its map keys."""
    spark = strict_policy
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "4")
    try:
        rows = [_row(1, 0, "I",
                     {"repo": "H", "path": "hot", "content": "v0"})]
        rows += [
            _row(g, 0, "U", {"repo": "H", "path": "hot",
                             "content": f"v{g - 1}"},
                 {"repo": "H", "path": "hot"})
            for g in range(2, 32)
        ]
        changes = _mk_changes(spark, rows)
        folded = fold_changes(changes, ("repo", "path"))
        out = folded.collect()
        assert len(out) == 1
        r = out[0]
        m = dict(r["m"])
        assert m["content"] == "v30" and r["full"] and not r["del"]
        assert r["n_events"] == 31 and r["g"] == 31
        assert norm_fold(folded) == fold_oracle(changes)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_replay_batch_e2e_default_policy(strict_policy, tmp_path):
    """The actual r4 driver repro: full replay_batch (decode → assemble →
    columnar fold → MERGE) under the EXCEPTION policy."""
    spark = strict_policy
    gen = genlog.CdcWorldGenerator(seed=11, n_repos=6, paths_per_repo=4,
                                   txns_per_file=25)
    result = gen.generate(n_txns=80)
    frames_dir = str(tmp_path / "frames")
    genlog.write_frames_parquet(result, frames_dir)
    lake = LakeTable.create(spark, str(tmp_path / "lake"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    frames = pipeline.read_frames(spark, frames_dir)
    stats = pipeline.replay_batch(spark, frames, lake,
                                  genlog.table_registry(), batch_id=0)
    assert stats["n_changes"] == len(result.changes)
    got = {(r["repo"], r["path"]): r["content"]
           for r in lake.to_df().collect()}
    want = {k: v["content"] for k, v in result.final_state.items()}
    assert got == want


def test_replay_canonical_rendering_non_utc_session(spark, tmp_path):
    """r4 VERDICT directive 1 follow-up: the canonical temporal
    renderers live in the Python wire codec (naive-UTC arithmetic on
    the event's epoch seconds) and must NOT silently depend on
    ``spark.sql.session.timeZone``. Run the full replay under a
    deliberately non-UTC session and require the exact same final lake
    content as the UTC-pinned run."""
    import hashlib

    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key, None)
    gen = genlog.CdcWorldGenerator(seed=23, n_repos=5, paths_per_repo=3,
                                   txns_per_file=20)
    result = gen.generate(n_txns=60)
    frames_dir = str(tmp_path / "frames")
    genlog.write_frames_parquet(result, frames_dir)

    def run(tag):
        lake = LakeTable.create(spark, str(tmp_path / f"lake_{tag}"),
                                columns=genlog.table_spec().col_names,
                                key_cols=list(genlog.KEY_COLS), n_buckets=4)
        frames = pipeline.read_frames(spark, frames_dir)
        pipeline.replay_batch(spark, frames, lake, genlog.table_registry(),
                              batch_id=0)
        return sorted(
            (r["repo"], r["path"],
             hashlib.sha256("\x01".join(
                 str(r[c]) for c in genlog.table_spec().col_names)
                 .encode()).hexdigest())
            for r in lake.to_df().collect())

    try:
        spark.conf.set(tz_key, "UTC")
        utc_state = run("utc")
        spark.conf.set(tz_key, "America/New_York")
        ny_state = run("ny")
    finally:
        if prev is None:
            spark.conf.unset(tz_key)
        else:
            spark.conf.set(tz_key, prev)
    assert utc_state == ny_state
    want = {k: v["content"] for k, v in result.final_state.items()}
    assert len(utc_state) == len(want)


def test_dedup_keep_last_kernel():
    """Unit test of the vectorized (row, key) dedup: first position,
    last value, per-row lens recomputed."""
    ent_k = pa.array(["a", "b", "a", "c", "x", "x", "x"])
    ent_v = pa.array(["1", "2", "3", "4", None, "6", None])
    lens = np.array([4, 3], dtype=np.int64)
    k2, v2, l2 = _dedup_keep_last(ent_k, ent_v, lens)
    assert k2.to_pylist() == ["a", "b", "c", "x"]
    assert v2.to_pylist() == ["3", "2", "4", None]
    assert l2.tolist() == [3, 1]
    # no-dup fast path returns inputs untouched
    k3, v3, l3 = _dedup_keep_last(pa.array(["a", "b"]),
                                  pa.array(["1", "2"]),
                                  np.array([2], dtype=np.int64))
    assert k3.to_pylist() == ["a", "b"] and l3.tolist() == [2]

"""The replay's fused fold + MERGE (``LakeTable.apply_changes``) against the
fold oracle followed by the SQL MERGE oracle, row for row.

The base is a bootstrapped lake at GTID ``HWM`` that has since gained the
``stars`` column. The change set covers patches, replaces, deletes, a
bucket the batch empties, a NULL key, rows at and below the watermark, and
one key run laid out across an Arrow-batch boundary right before its
bucket ends: the fold's carried row must reach the MERGE before the next
bucket's rows do.
"""

import pytest

from binlog_spark import pipeline
from binlog_spark import schema as S
from binlog_spark.operators.merge import LakeTable, _bucket_expr
from tests.fold_oracle import fold_oracle
from tests.merge_oracle import merge_oracle

KEY = ["repo", "path"]
OLD_COLS = ["repo", "path", "commit", "lang", "content"]
COLS = OLD_COLS + ["stars"]          # evolved after the base was loaded
N_BUCKETS = 5
HWM = 10                             # the snapshot's GTID: the watermark
BATCH_ROWS = 7                       # maxRecordsPerBatch in the tight case
DELTA_SCHEMA = ("_k_repo string, _k_path string, del boolean, "
                "full boolean, m map<string,string>, g long, s int, "
                "n_events long")


def _bucket_of(spark, keys):
    df = spark.createDataFrame(list(keys), "repo string, path string")
    return {(r["repo"], r["path"]): r["b"] for r in df.select(
        "repo", "path", _bucket_expr(KEY, N_BUCKETS).alias("b")).collect()}


@pytest.fixture(scope="module")
def case(spark):
    """Keys by role, the base rows and the change rows. Bucket 0 holds
    only ``ka`` (5 changes) and ``kb`` (4 changes), so in a one-partition
    layout ``kb``'s run covers rows 5–8, across the boundary after row 7,
    and the next bucket starts in the same Arrow batch."""
    bucket = _bucket_of(spark, [("r", f"p{i}") for i in range(200)])
    by_bucket = {}
    for k, b in sorted(bucket.items()):
        by_bucket.setdefault(b, []).append(k)
    b0, b1, b2, b3, b4 = (by_bucket[i] for i in range(N_BUCKETS))
    k = {"ka": b0[0], "kb": b0[1],
         "patch_null": b1[0], "insert": b1[1], "orphan": b1[2],
         "nokey": b1[3], "straddle": b1[4],
         "keep2": b2[0], "insert2": b2[1],
         "only": b3[0],
         "at_hwm": b4[0], "below_hwm": b4[1], "keep4": b4[2]}
    base = [(*k[n], f"c-{n}", "py", f"body-{n}") for n in
            ("ka", "kb", "patch_null", "straddle", "keep2", "only",
             "at_hwm", "keep4")]

    changes = []

    def ch(name, g, op, after=None, s=0, key=None):
        repo, path = key if key is not None else k[name]
        before = None if op == "I" else {"repo": repo, "path": path}
        if op == "I":
            after = {"repo": repo, "path": path, **(after or {})}
        changes.append((g, g, s, "binlog.000001", len(changes) * 10 + 4,
                        len(changes) * 10 + 14, 0, op, "db", "t", before,
                        after))

    for i in range(5):                      # patches, one per column
        ch("ka", 11 + i, "U", {("content", "stars", "lang")[i % 3]: f"a{i}"})
    ch("kb", 11, "D")                       # delete, re-insert, patch
    ch("kb", 12, "I", {"commit": "c-kb2", "stars": "3"})
    ch("kb", 13, "U", {"content": "kb-patched"})
    ch("kb", 13, "U", {"content": "kb-final", "stars": None}, s=1)
    ch("patch_null", 20, "U", {"lang": None})
    ch("insert", 21, "I", {"content": "new", "stars": "9"})
    ch("insert", 22, "U", {"lang": "go"})
    ch("orphan", 23, "U", {"repo": k["orphan"][0], "path": k["orphan"][1],
                           "content": "orphan"})
    ch("nokey", 24, "U", {"content": "lost"})
    ch("straddle", 9, "U", {"content": "old"})
    ch("straddle", 25, "U", {"stars": "1"})
    ch("insert2", 26, "I", {"content": "two"})
    ch("only", 27, "D")                     # empties bucket 3
    ch("at_hwm", HWM, "U", {"content": "replayed"})
    ch("below_hwm", HWM - 3, "I", {"content": "resurrected"})
    ch(None, 28, "I", {"content": "null key"}, key=(None, None))
    return k, base, changes, bucket


def _norm(rows):
    cols = COLS + ["_gtid_seq", "_seq_in_txn"]
    return sorted((tuple(r[c] for c in cols) for r in rows), key=repr)


@pytest.fixture(params=["one_partition", "session_default"])
def layout(spark, request):
    """``one_partition``: every bucket shares one task, and 7-row Arrow
    batches split key runs and buckets across batches."""
    conf = {"spark.sql.shuffle.partitions": "1",
            "spark.sql.execution.arrow.maxRecordsPerBatch": str(BATCH_ROWS)}
    old = {c: spark.conf.get(c) for c in conf}
    if request.param == "one_partition":
        for c, v in conf.items():
            spark.conf.set(c, v)
    yield request.param
    for c, v in old.items():
        spark.conf.set(c, v)


def test_layout_puts_a_carried_run_before_a_bucket_change(spark, case):
    """The one-partition case does what it is for: ``kb``'s run crosses a
    batch boundary, ends in the next batch, and the next bucket's rows
    follow it in that batch."""
    k, _, changes, bucket = case
    bucket[(None, None)] = _bucket_of(spark, [(None, None)])[(None, None)]

    def key(c):                             # ``lww.with_key``
        after, before = c[11] or {}, c[10] or {}
        return tuple(after.get(n) if after.get(n) is not None
                     else before.get(n) for n in KEY)

    order = sorted(changes, key=lambda c: (
        bucket[key(c)], [(v is not None, v or "") for v in key(c)],
        c[0], c[2]))
    keys = [key(c) for c in order]
    at = [i for i, kk in enumerate(keys) if kk == k["kb"]]
    assert at[0] < BATCH_ROWS <= at[-1], at
    nxt = at[-1] + 1
    assert nxt < 2 * BATCH_ROWS and bucket[keys[nxt]] != bucket[k["kb"]]


def test_apply_changes_matches_fold_then_merge_oracles(spark, case, layout,
                                                       tmp_path):
    k, base, changes, _ = case
    lake = LakeTable.create(spark, str(tmp_path / "lake"), columns=OLD_COLS,
                            key_cols=KEY, n_buckets=N_BUCKETS)
    pipeline.bootstrap_from_snapshot(
        spark, spark.createDataFrame(
            base, ", ".join(f"{c} string" for c in OLD_COLS)),
        lake, snapshot_gtid=HWM)
    lake.evolve_add_column("stars")
    assert set(lake.meta["buckets"]) == {"0", "1", "2", "3", "4"}

    df = spark.createDataFrame(changes, S.CHANGE_SCHEMA)
    folded = [(*key, *state) for key, state in fold_oracle(df, KEY).items()
              if state[3] > HWM]
    delta = spark.createDataFrame(folded, DELTA_SCHEMA)
    want = _norm(merge_oracle(lake.read(), delta, COLS, KEY).collect())

    stats = lake.apply_changes(df, batch_id="b1",
                               max_gtid=max(c[0] for c in changes))
    rows = lake.read().collect()
    assert _norm(rows) == want

    got = {(r["repo"], r["path"]): r for r in rows}
    assert got[k["ka"]]["content"] == "a3" and got[k["ka"]]["stars"] == "a4"
    assert got[k["ka"]]["lang"] == "a2" and got[k["ka"]]["commit"] == "c-ka"
    assert got[k["kb"]]["content"] == "kb-final"
    assert got[k["kb"]]["stars"] is None and got[k["kb"]]["lang"] is None
    assert got[k["straddle"]]["content"] == "old"
    assert got[k["at_hwm"]]["content"] == "body-at_hwm"
    for gone in ("only", "below_hwm", "nokey"):
        assert k[gone] not in got, gone
    assert all(None not in key for key in got)
    assert "3" not in lake.meta["buckets"]           # emptied bucket
    assert lake.meta["buckets"]["4"] == 1            # only dropped rows
    assert stats["delta_keys"] == len(folded)
    assert stats["buckets_rewritten"] == 4
    assert stats["rows_written"] == len(rows) - 2    # bucket 4 not written

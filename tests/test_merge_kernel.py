"""The per-bucket Arrow MERGE (``merge.merge_bucket`` inside
``LakeTable.apply_job``, reached through ``merge_apply``) against the SQL
MERGE oracle, row for row, plus the file layout it leaves behind.

The base is written by Spark's ``partitionBy`` writer — the layout of lakes
written before the Arrow kernel (several part files per bucket, ``.crc``
side files, ``_SUCCESS``) — so every case here also exercises the upgrade
path.
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from binlog_spark import pipeline
from binlog_spark.operators.merge import LakeTable, _bucket_expr
from tests.merge_oracle import merge_oracle

KEY = ["repo", "path"]
OLD_COLS = ["repo", "path", "commit", "lang", "content"]
COLS = OLD_COLS + ["stars"]          # "stars" evolved after the base
N_BUCKETS = 5
DELTA_SCHEMA = ("_k_repo string, _k_path string, del boolean, "
                "full boolean, m map<string,string>, g long, s int, "
                "n_events long")


def _keys_by_bucket(spark, n=200):
    df = spark.createDataFrame([("r", f"p{i}") for i in range(n)],
                               "repo string, path string")
    out = {}
    for r in df.select("repo", "path",
                       _bucket_expr(KEY, N_BUCKETS).alias("b")).collect():
        out.setdefault(r["b"], []).append((r["repo"], r["path"]))
    return out


def _row(key, tag, g=5, s=0):
    repo, path = key
    return (repo, path, f"c-{tag}", "py", f"body-{tag}", g, s)


def _seed_lake(spark, path, base_rows):
    """A lake whose version 1 was written by Spark's partitionBy writer in
    two appends (two part files per bucket), without the ``stars`` column
    that the manifest schema has since gained."""
    lake = LakeTable.create(spark, path, columns=OLD_COLS, key_cols=KEY,
                            n_buckets=N_BUCKETS)
    out = os.path.join(path, "data", "v000001")
    schema = ", ".join(f"{c} string" for c in OLD_COLS)
    for half in (base_rows[0::2], base_rows[1::2]):
        (spark.createDataFrame(half, schema + ", _gtid_seq long, "
                               "_seq_in_txn int")
         .withColumn("_bucket", _bucket_expr(KEY, N_BUCKETS))
         .coalesce(1).write.mode("append").partitionBy("_bucket")
         .parquet(out))
    buckets = {d.split("=", 1)[1]: 1 for d in os.listdir(out)
               if d.startswith("_bucket=")}
    lake._commit_meta({**lake.meta, "buckets": buckets, "version": 1})
    lake.evolve_add_column("stars")
    return lake


def _norm(rows):
    cols = COLS + ["_gtid_seq", "_seq_in_txn"]
    return sorted((tuple(r[c] for c in cols) for r in rows), key=repr)


def _by_key(rows):
    return {(r["repo"], r["path"]): r for r in rows}


@pytest.fixture(scope="module")
def case(spark):
    """Named keys per scenario, with the buckets they must land in:
    bucket 0 holds the patched / replaced / guarded base rows, bucket 1
    the deltas onto missing base rows, bucket 2 exactly one base row
    (deleted → bucket emptied), bucket 3 no base (insert into an absent
    bucket), bucket 4 base rows no delta touches."""
    kb = _keys_by_bucket(spark)
    b0, b1, b2, b3, b4 = (kb[i] for i in range(N_BUCKETS))
    k = {
        "full": b0[0], "patch": b0[1], "null": b0[2], "lowseq": b0[3],
        "eqseq": b0[4], "keep0": b0[5], "delete": b0[6],
        "patchkey": b1[0], "patchnokey": b1[1], "delmiss": b1[2],
        "keep1": b1[3],
        "empty": b2[0],
        "insert": b3[0],
        "keep4a": b4[0], "keep4b": b4[1],
    }
    base = [_row(k[n], n) for n in
            ("full", "patch", "null", "keep0", "delete", "keep1", "empty",
             "keep4a", "keep4b")]
    base += [_row(k["lowseq"], "lowseq", g=10, s=5),
             _row(k["eqseq"], "eqseq", g=10, s=5)]

    def d(name, m, g=20, s=0, del_=False, full=False):
        return (*k[name], del_, full, m, g, s, 1)

    repo, path = k["insert"]
    ins = {"repo": repo, "path": path, "commit": "c-new", "lang": "go",
           "content": "inserted", "stars": "7"}
    repo, path = k["full"]
    delta = [
        d("insert", ins, full=True),
        d("full", {"repo": repo, "path": path, "commit": "c-full",
                   "content": "replaced"}, full=True),
        d("patch", {"content": "patched", "stars": "5"}),
        d("null", {"lang": None}),
        d("lowseq", {"content": "stale"}, g=10, s=3),
        d("eqseq", {"content": "same-seq"}, g=10, s=5),
        d("delete", {}, del_=True),
        d("empty", {}, del_=True),
        d("delmiss", {}, del_=True),
        d("patchkey", {"repo": k["patchkey"][0], "path": k["patchkey"][1],
                       "content": "orphan"}),
        d("patchnokey", {"content": "lost"}),
    ]
    return k, base, delta


def _apply(spark, lake, delta_rows):
    delta = lake.bucket_of(spark.createDataFrame(delta_rows, DELTA_SCHEMA))
    want = _norm(merge_oracle(lake.read(), delta, COLS, KEY).collect())
    stats = lake.merge_apply(delta, batch_id="b1")
    return stats, want


def test_kernel_matches_sql_oracle(spark, case, tmp_path):
    k, base, delta = case
    lake = _seed_lake(spark, str(tmp_path / "lake"), base)
    v1 = os.path.join(lake.path, "data", "v000001")
    # the old writer's layout: two part files and their .crc per bucket
    assert os.path.exists(os.path.join(v1, "_SUCCESS"))
    b0 = os.path.join(v1, "_bucket=0")
    assert len(glob.glob(os.path.join(b0, "part-*.parquet"))) == 2
    assert glob.glob(os.path.join(b0, ".part-*.crc"))

    stats, want = _apply(spark, lake, delta)
    rows = lake.read().collect()
    assert _norm(rows) == want

    got = _by_key(rows)
    assert got[k["insert"]]["content"] == "inserted"
    assert got[k["insert"]]["stars"] == "7"
    assert got[k["full"]]["content"] == "replaced"
    assert got[k["full"]]["lang"] is None              # full: absent → NULL
    assert got[k["patch"]]["content"] == "patched"
    assert got[k["patch"]]["stars"] == "5"             # evolved column
    assert got[k["patch"]]["commit"] == "c-patch"      # absent → base
    assert got[k["null"]]["lang"] is None              # explicit NULL
    assert got[k["null"]]["commit"] == "c-null"
    assert got[k["lowseq"]]["content"] == "body-lowseq"
    assert got[k["eqseq"]]["content"] == "same-seq"
    assert got[k["patchkey"]]["content"] == "orphan"
    assert got[k["patchkey"]]["commit"] is None
    for gone in ("delete", "empty", "delmiss", "patchnokey"):
        assert k[gone] not in got, gone
    assert got[k["keep0"]]["stars"] is None            # old file, new column
    assert len(rows) == 11

    buckets = lake.meta["buckets"]
    assert "2" not in buckets                          # emptied bucket
    assert buckets["3"] == 2 and buckets["0"] == 2 and buckets["1"] == 2
    assert buckets["4"] == 1                           # untouched bucket
    assert stats["buckets_rewritten"] == 4
    assert stats["rows_written"] == len(rows) - 2      # bucket 4 not written
    assert not os.path.exists(lake._bucket_dir(2, 2))


def test_rerun_same_version_leaves_one_file(spark, case, tmp_path):
    _, base, delta = case
    lake = _seed_lake(spark, str(tmp_path / "lake"), base)
    before = json.loads(json.dumps(lake.meta))
    _apply(spark, lake, delta)
    first = _norm(lake.read().collect())
    # a crash after the data files and before the manifest commit: the
    # retry targets the same version and replaces the files
    lake._commit_meta(before)
    stats, _ = _apply(spark, lake, delta)
    assert stats["version"] == 2
    assert _norm(lake.read().collect()) == first
    for d in glob.glob(os.path.join(lake.path, "data", "v000002", "_bucket=*")):
        assert os.listdir(d) == ["part-00000.parquet"], d


def test_temp_files_are_ignored(spark, case, tmp_path):
    k, base, delta = case
    lake = _seed_lake(spark, str(tmp_path / "lake"), base)
    _apply(spark, lake, delta)
    n = lake.read().count()
    for b, v in lake.meta["buckets"].items():
        with open(os.path.join(lake._bucket_dir(int(b), v),
                               ".part-00000.0123abcd.tmp"), "wb") as f:
            f.write(b"not a parquet file")
    assert lake.read().count() == n
    # and the kernel's own base read skips them too
    repo, path = k["keep4a"]
    lake.merge_apply(lake.bucket_of(spark.createDataFrame(
        [(repo, path, False, False, {"content": "again"}, 30, 0, 1)],
        DELTA_SCHEMA)), batch_id="b2")
    got = _by_key(lake.read().collect())
    assert len(got) == n and got[(repo, path)]["content"] == "again"


def test_bootstrap_delta_matches_sql_oracle(spark, case, tmp_path):
    _, base, _ = case
    lake = LakeTable.create(spark, str(tmp_path / "lake"), columns=COLS,
                            key_cols=KEY, n_buckets=N_BUCKETS)
    snapshot = spark.createDataFrame(
        [(*r[:5], None if i % 3 else str(i)) for i, r in enumerate(base)],
        ", ".join(f"{c} string" for c in COLS))
    # the snapshot as the folded delta it stands for: one full row per
    # key, every column as a string, stamped (42, 0)
    delta = snapshot.select(
        *[F.col(k).alias(f"_k_{k}") for k in KEY],
        F.lit(False).alias("del"), F.lit(True).alias("full"),
        F.create_map(*[x for c in COLS for x in (F.lit(c), F.col(c))])
        .alias("m"),
        F.lit(42).cast("long").alias("g"), F.lit(0).alias("s"))
    stats = pipeline.bootstrap_from_snapshot(spark, snapshot, lake,
                                             snapshot_gtid=42)
    empty = spark.createDataFrame([], lake._schema())
    want = _norm(merge_oracle(empty, delta, COLS, KEY).collect())
    rows = lake.read().collect()
    assert _norm(rows) == want
    assert len(rows) == len(base) == stats["rows_written"]
    assert {r["_gtid_seq"] for r in rows} == {42}
    assert lake.read().where(F.col("stars").isNotNull()).count() == 4

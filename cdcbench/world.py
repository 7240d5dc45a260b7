"""Benchmark inputs and the final-state oracle.

Every input comes from ``genlog.CdcWorldGenerator`` with the run's seed;
the program under test only ever sees the binlog frame parquet files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from binlog_spark import genlog

# generator shape of scripts/submit_replay.py (the job users submit)
SUBMIT_WORLD = dict(n_repos=200, paths_per_repo=80, txns_per_file=500)
# one repo, one file number: 64 keys (8 dirs x 8 extensions) carry the stream
HOT_WORLD = dict(n_repos=1, paths_per_repo=1, hot_repos=1,
                 txns_per_file=500)


@dataclass(frozen=True)
class Sizes:
    """Transaction counts for one workload.

    ``txns``: the timed batch (backfill, hot_keys) or the preload
    (incremental). ``land_files``: binlog files generated after the
    preload for the incremental loop to land one at a time."""
    txns: int
    land_files: int = 0

    @property
    def preload_files(self) -> int:
        """Whole binlog files the incremental preload spans."""
        return -(-self.txns // SUBMIT_WORLD["txns_per_file"])


# full-size figures; the self-test passes tiny ones
SIZES = {
    "backfill": Sizes(txns=3000),
    "hot_keys": Sizes(txns=3000),
    "incremental": Sizes(txns=2500, land_files=9),
}
# landed files applied during set-up, before the timed loop
WARMUP_LANDINGS = 2
# the batch workloads warm up on a small world of the same shape first: the
# cold first apply costs about the same at any size
WARMUP = Sizes(txns=200)
# then on the run's own input this many times, untimed: the apply time
# settles within a few percent after about three applies
WARMUP_APPLIES = 2
# differences the parity gate reports before it stops looking
MAX_MISMATCHES = 5


@dataclass
class World:
    result: genlog.GenResult
    frames_dir: str         # every generated binlog file
    files: list             # parquet file names, binlog order
    n_changes: int          # change rows the generator emitted

    def paths(self, names) -> list:
        return [os.path.join(self.frames_dir, n) for n in names]


def build(workload: str, seed: int, sizes: Sizes, workdir: str,
          name: str = "frames") -> World:
    """Generate the workload's frames under ``workdir/name``."""
    if workload == "hot_keys":
        gen = genlog.CdcWorldGenerator(seed=seed, **HOT_WORLD)
        n_txns = sizes.txns
    elif workload == "backfill":
        gen = genlog.CdcWorldGenerator(seed=seed, **SUBMIT_WORLD)
        n_txns = sizes.txns
    elif workload == "incremental":
        tpf = SUBMIT_WORLD["txns_per_file"]
        # whole files only: the preload ends on a file boundary, and the
        # one ALTER sits in the middle of the second file the timed loop
        # lands, which every run reaches
        pre = sizes.preload_files * tpf
        alter_at = pre + (WARMUP_LANDINGS + 1) * tpf + tpf // 2
        gen = genlog.CdcWorldGenerator(seed=seed, evolve_at_txn=alter_at,
                                       **SUBMIT_WORLD)
        n_txns = pre + sizes.land_files * tpf
    else:
        raise ValueError(f"unknown workload {workload!r}")
    result = gen.generate(n_txns=n_txns)
    frames_dir = os.path.join(workdir, name)
    genlog.write_frames_parquet(result, frames_dir)
    files = sorted(n for n in os.listdir(frames_dir) if n.endswith(".parquet"))
    return World(result, frames_dir, files, len(result.changes))


def state_through(result: genlog.GenResult, last_file: str) -> dict:
    """The generator's final state after only the binlog files up to and
    including ``last_file``, replayed from its logical change rows with the
    generator's own rules: insert replaces the row, update patches the
    present columns, delete removes the key, the ALTER adds a null
    ``stars`` to every live row. ``check_state_rules`` proves these rules
    reproduce ``result.final_state`` on the whole stream."""
    cut = last_file.removesuffix(".parquet")
    ddl_gtids = sorted(d["gtid_seq"] for d in result.ddls if d["file"] <= cut)
    state: dict = {}
    i = 0

    def alter():
        for row in state.values():
            row.setdefault("stars", None)

    for ch in result.changes:
        if ch["file"] > cut:
            break
        while i < len(ddl_gtids) and ddl_gtids[i] < ch["gtid_seq"]:
            alter()
            i += 1
        ident = ch["after"] if ch["op"] == "I" else ch["before"]
        key = (ident["repo"], ident["path"])
        if ch["op"] == "I":
            state[key] = dict(ch["after"])
        elif ch["op"] == "U":
            cur = state.get(key)
            if cur is not None:
                cur.update(ch["after"])
        else:
            del state[key]
    for _ in ddl_gtids[i:]:
        alter()
    return state


def check_state_rules(world: World):
    """Raise unless ``state_through`` over every file equals the
    generator's own final state."""
    got = state_through(world.result, world.files[-1])
    if got != world.result.final_state:
        raise RuntimeError("state_through disagrees with the generator's "
                           "final state on the full stream")


def expected_rows(world: World, last_file: str | None = None) -> list:
    """``genlog.expected_state_with_sha`` rows for the whole stream, or for
    the prefix ending at ``last_file``."""
    res = world.result
    if last_file is not None and last_file != world.files[-1]:
        res = genlog.GenResult(frames=[], changes=[], ddls=[],
                               final_state=state_through(res, last_file))
    return genlog.expected_state_with_sha(res)


def lake_mismatches(lake, expected: list) -> list:
    """Compare a lake table's current snapshot with ``expected`` rows:
    the row count, every column, and content by its sha256. Returns up to
    ``MAX_MISMATCHES`` human-readable differences; empty means parity."""
    from pyspark.sql import functions as F

    cols = [c for c in lake.meta["columns"] if c != "content"]
    if expected and set(expected[0]) != set(cols) | {"content",
                                                     "content_sha256"}:
        return [f"lake columns {lake.meta['columns']} != expected "
                f"{sorted(set(expected[0]) - {'content_sha256'})}"]
    got = {}
    for r in lake.to_df().select(
            *cols, F.sha2(F.col("content"), 256).alias("content_sha256")
    ).collect():
        got[(r["repo"], r["path"])] = r.asDict()
    want = {(r["repo"], r["path"]): {c: r.get(c) for c in
                                     cols + ["content_sha256"]}
            for r in expected}
    out = []
    if len(got) != len(want):
        out.append(f"row count {len(got)} != expected {len(want)}")
    for key in sorted(set(got) | set(want), key=str):
        if got.get(key) != want.get(key):
            out.append(f"key {key}: lake {got.get(key)} != "
                       f"expected {want.get(key)}")
            if len(out) >= MAX_MISMATCHES:
                break
    return out

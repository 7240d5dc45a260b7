"""One benchmark run: set-up, the timed loop, the parity gate, metrics.

Imported by run.py once it has found the ``binlog_spark`` package.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from pyspark import SparkContext

import layers
import world as W
from binlog_spark import genlog, pipeline
from binlog_spark import schema as S
from binlog_spark.operators.merge import LakeTable
from binlog_spark.session import get_spark
from binlog_spark.streaming.pipeline import run_stream_ordered
from eventlog import find_log, max_task_share, parse
from procstat import ProcessTree, alive

CPUS = 4           # local[4]: one task slot per core of the 4-core host
N_BUCKETS = 32     # scripts/submit_replay.py default
MIN_APPLIES = 2    # timed applies per run, even if --seconds runs out first
# Driver heap, set through the session factory's own SPARK_DRIVER_MEM. The
# factory's default is 40% of RAM, 6 GiB on a 15 GB host. With that much
# room G1 grows the heap by about 1 GB at moments that differ from run to
# run, and backfill's peak_rss_mb fell into two groups (2.8-3.0 and
# 3.8-4.0 GB) with a spread of 0.29 over ten seeds, above its bound. 2 GiB
# holds these workloads. README.md compares the two heaps.
DRIVER_MEM = "2g"


def configure_env(root: str, work: str, trace: bool):
    """Environment the Spark session reads at launch: scratch space and
    temp files inside ``work``, the package importable by Python workers,
    and, for the traced run, the event log turned on through submit-time
    config."""
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher
    conf = {"spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir":
                         "file://" + os.path.join(work, "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark, tree: ProcessTree):
    """Stop the session, then the JVM, then wait for every process of the
    tree (the Python worker daemon and its workers) to end."""
    pids = [p for p in tree.pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while any(alive(p) for p in pids):
            if time.monotonic() > deadline:
                for p in pids:
                    if alive(p):
                        try:
                            os.kill(p, signal.SIGKILL)
                        except ProcessLookupError:
                            pass
                deadline = float("inf")
            time.sleep(0.1)


def tail(values: list):
    """``(value, percentile, n)``: the wall time at the highest percentile
    with at least ten samples beyond it; the maximum when the sample is too
    small for such a percentile to lie at or above the median."""
    s = sorted(values)
    n = len(s)
    k = n - 11
    if k < 0 or (k + 1) * 2 < n:
        return s[-1], 100.0, n
    return s[k], 100.0 * (k + 1) / n, n


class Run:
    """The applies of one run and their bookkeeping.

    ``applies[kind]`` lists one record per timed apply: ``untraced`` is the
    program's own call, ``traced`` the layer-by-layer copy."""

    def __init__(self, spark, tree: ProcessTree, world: W.World, work: str):
        self.spark = spark
        self.tree = tree
        self.world = world
        self.work = work
        self.registry = genlog.table_registry()
        self.applies = {"untraced": [], "traced": []}
        self.recorders = []
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.last_lake = {}
        self._lake_seq = 0

    def _fail(self, what: str):
        self.failed += 1
        self.errors.append(what)
        print(f"cdcbench: FAILED {what}", file=sys.stderr)

    def _apply(self, kind: str, fn, expect_changes: int, count_changes):
        """Run ``fn()``, timed unless ``kind`` is ``warmup``, and check the
        change count ``count_changes(result)`` against the generator's. A
        warm-up that fails raises: the run cannot be measured."""
        warm = kind == "warmup"
        if not warm:
            self.attempted += 1
        c0, t0 = self.tree.cpu_s(), time.perf_counter()
        try:
            out = fn()
        except Exception:
            if warm:
                raise
            traceback.print_exc()
            self._fail(f"{kind} apply raised")
            return
        wall = time.perf_counter() - t0
        cpu = self.tree.cpu_s() - c0
        got = count_changes(out)
        if got != expect_changes:
            msg = f"{kind} apply n_changes {got} != generator {expect_changes}"
            if warm:
                raise RuntimeError(msg)
            self._fail(msg)
        if not warm:
            self.applies[kind].append({"wall_s": wall, "cpu_s": cpu,
                                       "n_changes": got})

    def check_parity(self, lake: LakeTable, expected: list, label: str):
        self.attempted += 1
        try:
            diffs = W.lake_mismatches(lake, expected)
        except Exception:
            traceback.print_exc()
            diffs = ["parity check raised"]
        if diffs:
            self._fail(f"parity ({label}): " + "; ".join(diffs))

    def _recorder(self) -> layers.Recorder:
        rec = layers.Recorder(self.spark, self.tree, str(len(self.recorders)))
        self.recorders.append(rec)
        return rec

    def _new_lake(self) -> LakeTable:
        self._lake_seq += 1
        path = os.path.join(self.work, "lakes", f"lake-{self._lake_seq}")
        LakeTable.create(self.spark, path,
                         columns=genlog.table_spec().col_names,
                         key_cols=list(genlog.KEY_COLS), n_buckets=N_BUCKETS)
        return LakeTable(self.spark, path)

    # -------------------------------------------------- backfill / hot_keys
    def batch_apply(self, kind: str, world: W.World | None = None):
        """One ``replay_batch`` of the whole input (``world``, default the
        run's) into a fresh lake. The newest timed lake of each kind is
        kept for the parity gate."""
        world = world or self.world
        lake = self._new_lake()
        frames_dir = world.frames_dir
        if kind == "traced":
            rec = self._recorder()

            def fn():
                frames = layers.read_frames_traced(
                    rec, lambda: pipeline.read_frames(self.spark, frames_dir))
                return layers.replay_batch(self.spark, frames, lake,
                                           self.registry, 0, rec)
        else:
            def fn():
                frames = pipeline.read_frames(self.spark, frames_dir)
                return pipeline.replay_batch(self.spark, frames, lake,
                                             self.registry, batch_id=0)
        self._apply(kind, fn, world.n_changes,
                    lambda st: st and st.get("n_changes"))
        if kind == "warmup":
            shutil.rmtree(lake.path)
            return
        old = self.last_lake.get(kind)
        if old is not None:
            shutil.rmtree(old.path)
        self.last_lake[kind] = lake

    # ------------------------------------------------------------ incremental
    def preload(self, n_files: int):
        """Apply the first ``n_files`` binlog files as one batch, and lay
        out the landing directory and checkpoint for the tail loop."""
        self.lake = self._new_lake()
        names = self.world.files[:n_files]
        frames = self.spark.read.schema(S.FRAME_SCHEMA).parquet(
            *self.world.paths(names))
        self._apply("warmup", lambda: pipeline.replay_batch(
            self.spark, frames, self.lake, self.registry,
            batch_id="preload"), self._changes_in(names),
            lambda st: st["n_changes"])
        self.landing = os.path.join(self.work, "landing")
        self.checkpoint = os.path.join(self.work, "checkpoint")
        os.makedirs(self.landing)
        self.to_land = list(self.world.files[n_files:])
        self.landed = list(names)

    def _changes_in(self, names) -> int:
        cut = {n.removesuffix(".parquet") for n in names}
        return sum(1 for ch in self.world.result.changes if ch["file"] in cut)

    def land_and_apply(self, kind: str):
        """Land the next binlog file in the watched directory, then apply
        it with ``run_stream_ordered``."""
        name = self.to_land.pop(0)
        tmp = os.path.join(self.landing, name + ".landing")
        shutil.copyfile(os.path.join(self.world.frames_dir, name), tmp)
        os.replace(tmp, os.path.join(self.landing, name))
        self.landed.append(name)
        lake_path = self.lake.path
        if kind == "traced":
            rec = self._recorder()

            def fn():
                return layers.run_stream_ordered(
                    self.spark, self.landing, lake_path, self.registry,
                    self.checkpoint, rec)
        else:
            def fn():
                return run_stream_ordered(
                    self.spark, self.landing, lake_path, self.registry,
                    self.checkpoint)

        def lineage_changes(out):
            # run_stream_ordered returns batch counts only; the applied
            # change count is in the batch's lineage record
            if not out or out["batches"] != 1:
                return None
            doc = os.path.join(lake_path, "_lineage",
                               f"batch-ordered-{name}.json")
            with open(doc) as f:
                return json.load(f)["metrics"]["n_changes"]

        self._apply(kind, fn, self._changes_in([name]), lineage_changes)
        self.lake = LakeTable(self.spark, lake_path)


def layer_metrics(run: Run, evlog: dict) -> dict:
    """Median over the traced applies of each per-layer figure."""
    per_rep = []
    for rec in run.recorders:
        if "lineage" not in rec.layers:
            continue  # the apply failed part way; counted in ``failed``
        m = {}
        for layer in layers.LAYERS:
            span = rec.layers.get(layer, {})
            ev = evlog.get((layer, rec.rep))
            m[f"{layer}.wall_s"] = span.get("wall_s", 0.0)
            m[f"{layer}.cpu_s"] = span.get("cpu_s", 0.0)
            m[f"{layer}.rows_in"] = span.get("rows_in", 0)
            # the bucket rewrite's output records: rows MERGE wrote
            m[f"{layer}.rows_out"] = (
                ev["records_written"] if layer == "merge" and ev
                else span.get("rows_out", 0))
            m[f"{layer}.shuffle_write_mb"] = (
                ev["shuffle_write_bytes"] / 2**20 if ev else 0.0)
            m[f"{layer}.spill_mb"] = ev["spill_bytes"] / 2**20 if ev else 0.0
            m[f"{layer}.gc_s"] = ev["gc_ms"] / 1000 if ev else 0.0
            m[f"{layer}.tasks"] = ev["tasks"] if ev else 0
        dec, txn = rec.layers["decode"], rec.layers["transactions"]
        lww, merge = rec.layers["lww"], rec.layers["merge"]
        ev_lww = evlog.get(("lww", rec.rep))
        m["decode.deadletter_frac"] = dec["deadletter_frac"]
        m["transactions.commit_frac"] = txn["commit_frac"]
        m["lww.fold_ratio"] = lww["fold_ratio"]
        m["lww.max_task_share"] = max_task_share(ev_lww) if ev_lww else 0.0
        m["merge.buckets_rewritten"] = merge["buckets_rewritten"]
        m["merge.write_amp"] = (m["merge.rows_out"] / merge["rows_in"]
                                if merge["rows_in"] else 0.0)
        per_rep.append(m)
    return {k: statistics.median(m[k] for m in per_rep) for k in per_rep[0]}


_LAYER_UNITS = {"wall_s": "s", "cpu_s": "s", "gc_s": "s", "rows_in": "rows",
                "rows_out": "rows", "shuffle_write_mb": "MB",
                "spill_mb": "MB", "tasks": "count",
                "buckets_rewritten": "count", "fold_ratio": "ratio",
                "write_amp": "ratio"}


def _eps(applies: list) -> float:
    return (sum(a["n_changes"] for a in applies)
            / sum(a["wall_s"] for a in applies))


def run(workload: str, seed: int, seconds: float, trace: bool,
        sizes: W.Sizes, root: str) -> int:
    """Run one workload; print the detail line and the result line."""
    work = os.path.join(root, ".cdcbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    tree = ProcessTree()
    try:
        # load prep: input generation, reported apart from set-up
        t0 = time.perf_counter()
        world = W.build(workload, seed, sizes, work)
        if workload == "incremental":
            W.check_state_rules(world)
        else:
            warm = W.build(workload, seed + 1, W.WARMUP, work, "warmup")
        prep_s = time.perf_counter() - t0

        # set-up: session start, JIT warm-up, incremental preload
        configure_env(root, work, trace)
        t0 = time.perf_counter()
        spark = get_spark(app_name="cdcbench", cpus=CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        bench = Run(spark, tree, world, work)
        if workload == "incremental":
            bench.preload(sizes.preload_files)
            for _ in range(W.WARMUP_LANDINGS):
                bench.land_and_apply("warmup")
        else:
            bench.batch_apply("warmup", warm)
            for _ in range(W.WARMUP_APPLIES):
                bench.batch_apply("warmup")
        setup_s = time.perf_counter() - t0

        # timed loop, closed: the next apply starts when the last one ends
        tree.start()
        jit0, cpu0 = tree.jit_cpu_s(), tree.cpu_s()
        t_loop = time.perf_counter()
        kinds = ("untraced", "traced") if trace else ("untraced",)
        i = 0
        while True:
            done = min(len(bench.applies[k]) for k in kinds)
            if (time.perf_counter() - t_loop >= seconds
                    and done >= (1 if trace else MIN_APPLIES)):
                break
            if workload == "incremental":
                if not bench.to_land:
                    print("cdcbench: ran out of binlog files to land",
                          file=sys.stderr)
                    break
                bench.land_and_apply(kinds[i % len(kinds)])
            else:
                bench.batch_apply(kinds[i % len(kinds)])
            i += 1
        loop_s = time.perf_counter() - t_loop
        loop_cpu_s, loop_jit_s = tree.cpu_s() - cpu0, tree.jit_cpu_s() - jit0
        tree.stop()
        peak_rss_mb = tree.peak_rss_bytes / 2**20

        # parity gate on the final lakes
        if workload == "incremental":
            last = bench.landed[-1]
            bench.check_parity(bench.lake, W.expected_rows(world, last),
                               f"after {last}")
        else:
            expected = W.expected_rows(world)
            for kind, lake in sorted(bench.last_lake.items()):
                bench.check_parity(lake, expected, kind)

        stop_spark(spark, tree)
        spark = None

        applies, traced = ([a for a in bench.applies[k]
                            if a["n_changes"] is not None]
                           for k in ("untraced", "traced"))
        if not applies or (trace and not traced):
            raise RuntimeError("no apply completed: " + "; ".join(
                bench.errors))
        walls = [a["wall_s"] for a in applies]
        tail_s, tail_pct, n = tail(walls)
        detail = {
            "workload": workload, "seed": seed, "trace": int(trace),
            "prep_s": round(prep_s, 3), "session_s": round(session_s, 3),
            "loop_s": round(loop_s, 3), "loop_cpu_s": round(loop_cpu_s, 2),
            "loop_jit_cpu_s": round(loop_jit_s, 2),
            "sampler_cpu_s": round(tree.sampler_cpu_s, 3),
            "apply_s": {k: [round(a["wall_s"], 3) for a in v]
                        for k, v in bench.applies.items() if v},
            "changes_per_apply": sorted({a["n_changes"] for a in applies}),
            "apply_s_tail_percentile": tail_pct, "apply_s_samples": n,
            "errors": bench.errors,
        }
        if trace:
            metrics = layer_metrics(
                bench, parse(find_log(os.path.join(work, "eventlog"))))
            metrics["trace.overhead_frac"] = 1 - _eps(traced) / _eps(applies)
            metrics["trace.coverage_frac"] = sum(
                metrics[f"{layer}.wall_s"] for layer in layers.LAYERS
            ) / statistics.median(a["wall_s"] for a in traced)
            out = {k: {"value": v,
                       "unit": _LAYER_UNITS.get(k.split(".", 1)[1], "frac")}
                   for k, v in metrics.items()}
        else:
            events = sum(a["n_changes"] for a in applies)
            out = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "events_per_s": {"value": events / sum(walls),
                                 "unit": "events/s"},
                "apply_s_p50": {"value": statistics.median(walls),
                                "unit": "s"},
                "apply_s_tail": {"value": tail_s, "unit": "s"},
                "cpu_us_per_event": {
                    "value": 1e6 * sum(a["cpu_s"] for a in applies) / events,
                    "unit": "us"},
                "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
                "ok_frac": {"value": ((bench.attempted - bench.failed)
                                      / bench.attempted), "unit": "frac"},
            }
        print(json.dumps(detail))
        print(json.dumps({"correct": bench.failed == 0,
                          "attempted": bench.attempted,
                          "failed": bench.failed, "metrics": out}))
        return 0 if bench.failed == 0 else 1
    finally:
        tree.stop()
        if spark is not None:
            stop_spark(spark, tree)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

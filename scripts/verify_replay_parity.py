#!/usr/bin/env python
"""Bench-scale final-state parity check — the north rule's correctness
criterion run at the SAME input size as the scaling evidence.

The pytest e2e suite proves exact generator parity at small inputs; this
script replays the full bench/scaling input (default 300k transactions ≈
5.65M change events, seed=42 — byte-identical to the BENCH/BASELINE.md
sessions) through the production path (vectorized Arrow decode →
transaction assembly → fold → bucketed MERGE) and verifies the final
lake state row-for-row against the generator's final-state oracle,
including per-row sha256(content) equality (the reference-parity
invariant: the reference parser's consumer applies the same changes, so
an equal final state means equal decode + apply semantics,
`/root/reference/row_streamer.go:190-258`).

Usage: python scripts/verify_replay_parity.py [n_txns] [cores]
Prints ONE JSON line: {"n_change_events": N, "final_rows": R,
"mismatches": 0, "missing": 0, "extra": 0, "parity": true, ...}.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binlog_spark import genlog, pipeline  # noqa: E402
from binlog_spark.operators.merge import LakeTable  # noqa: E402
from binlog_spark.session import get_spark  # noqa: E402


def main():
    n_txns = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    workdir = tempfile.mkdtemp(
        prefix="binlog_parity_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    try:
        t0 = time.perf_counter()
        gen = genlog.CdcWorldGenerator(seed=42, n_repos=200,
                                       paths_per_repo=80,
                                       txns_per_file=500)
        result = gen.generate(n_txns=n_txns)
        frames_dir = os.path.join(workdir, "frames")
        genlog.write_frames_parquet(result, frames_dir)
        gen_secs = time.perf_counter() - t0

        spark = get_spark(app_name="binlog-parity", cpus=cores,
                          shuffle_partitions=max(cores, 8))
        spark.sparkContext.setLogLevel("ERROR")

        lake_path = os.path.join(workdir, "lake")
        LakeTable.create(spark, lake_path,
                         columns=genlog.table_spec().col_names,
                         key_cols=list(genlog.KEY_COLS), n_buckets=32)
        lake = LakeTable(spark, lake_path)
        frames = pipeline.read_frames(spark, frames_dir)

        t0 = time.perf_counter()
        stats = pipeline.replay_batch(spark, frames, lake,
                                      genlog.table_registry(), batch_id=0)
        replay_secs = time.perf_counter() - t0
        assert stats["n_changes"] == len(result.changes), stats

        got = {(r["repo"], r["path"]): r
               for r in (lake.to_df().collect())}
        got = {k: r.asDict() if hasattr(r, "asDict") else r
               for k, r in got.items()}

        oracle = genlog.expected_state_with_sha(result)
        mismatches = missing = 0
        examples = []
        for want in oracle:
            key = (want["repo"], want["path"])
            have = got.pop(key, None)
            if have is None:
                missing += 1
                if len(examples) < 3:
                    examples.append({"key": list(key), "why": "missing"})
                continue
            content = have.get("content")
            have_sha = (hashlib.sha256(content.encode()).hexdigest()
                        if content is not None else None)
            bad = [c for c in want
                   if c != "content_sha256" and have.get(c) != want[c]]
            if bad or have_sha != want["content_sha256"]:
                mismatches += 1
                if len(examples) < 3:
                    examples.append({"key": list(key), "cols": bad,
                                     "sha_ok": have_sha
                                     == want["content_sha256"]})
        extra = len(got)

        out = {
            "n_change_events": len(result.changes),
            "n_txns": n_txns,
            "cores": cores,
            "final_rows": len(oracle),
            "mismatches": mismatches,
            "missing": missing,
            "extra": extra,
            "fallback_files": stats["fallback_files"],
            "parity": mismatches == 0 and missing == 0 and extra == 0,
            "replay_seconds": round(replay_secs, 2),
            "events_per_sec": round(len(result.changes) / replay_secs, 1),
            "generate_seconds": round(gen_secs, 1),
        }
        if examples:
            out["examples"] = examples
        print(json.dumps(out))
        return 0 if out["parity"] else 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

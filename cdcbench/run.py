#!/usr/bin/env python3
"""CDC apply benchmark: binlog frames → decode → transactions → LWW fold
→ bucketed MERGE → manifest commit, measured end to end and per layer.

    python3 cdcbench/run.py --workload backfill --seed 42 --seconds 12 \
        --trace 0

Run from the root of a checkout. Workloads (see cdcbench/README.md):

* ``backfill``: one catch-up batch into an empty 32-bucket lake through
  ``pipeline.replay_batch`` with the defaults of scripts/submit_replay.py;
* ``incremental``: a preloaded lake tailed one landed binlog file at a
  time by ``streaming.pipeline.run_stream_ordered`` (closed loop, one
  driver), with one ALTER inside the timed loop;
* ``hot_keys``: the backfill call on a world of ~60 live keys.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates the
program's own apply with a layer-by-layer copy of it (cdcbench/layers.py)
and prints the per-layer metrics. Every run checks the final lake against
``genlog.expected_state_with_sha`` and each apply's change count against
the generator's; any failure makes the exit code 1. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.
"""

import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill", "incremental", "hot_keys")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description="CDC apply benchmark (see cdcbench/README.md)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--txns", type=int, default=None,
                    help="override the workload's transaction count")
    ap.add_argument("--land-files", type=int, default=None,
                    help="override the number of binlog files generated "
                         "for the incremental loop to land")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "binlog_spark", "pipeline.py")):
        print(f"cdcbench: no binlog_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import bench
    import world

    sizes = world.SIZES[args.workload]
    sizes = world.Sizes(
        txns=args.txns if args.txns is not None else sizes.txns,
        land_files=(args.land_files if args.land_files is not None
                    else sizes.land_files))
    return bench.run(args.workload, args.seed, args.seconds,
                     bool(args.trace), sizes, ROOT)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {browse,ingest} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, measures for about ``--seconds`` seconds (whole request
cycles / batches), checks every operation's output against an
independent answer, and prints one JSON line as the last line of
standard output::

    {"correct": true, "attempted": 42, "failed": 0, "metrics": {...}}

``--trace 0`` reports the ``end_to_end`` metrics of BENCHMARK.json,
``--trace 1`` the ``per_layer`` ones (self time per layer from spans,
which are also written to ``.bench_traces/``). Exits non-zero without a
result line when the package or its inputs cannot be set up.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("browse", "ingest")
#: a run must end within 180 s; past this it is killed with exit code 3
ABORT_AFTER_S = 170


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    watchdog = harness.watchdog(ABORT_AFTER_S)
    spec = metrics.load_spec()
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    run_dir = os.path.join(harness.ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.pin_env(run_dir)
    h = harness.Harness(args.workload, args.seed, seconds, bool(args.trace), run_dir)
    try:
        out = importlib.import_module(args.workload).run(h)
    finally:
        try:
            h.stop()
        finally:
            harness.clean_run_dir(run_dir)
    if h.tally.failures:
        print("failures: " + "; ".join(h.tally.failures), file=sys.stderr)
    if args.trace:
        meta = {"workload": args.workload, "seed": args.seed, "rss_mb": h.rss.by_process(), **out["meta"]}
        path = h.dump_trace(meta)
        print(f"spans: {path}", file=sys.stderr)
        values = h.layer_metrics(spec, out["layer"])
    else:
        values = {m["name"]: (float(out["e2e"][m["name"]]), m["unit"]) for m in spec["end_to_end"]}
    watchdog.cancel()
    print(json.dumps(h.tally.result(values)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

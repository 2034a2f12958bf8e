#!/usr/bin/env python3
"""Self-test of the traced run, and its overhead.

    python3 perfbench/selftest.py --workload replay_bulk --seed 5 --seconds 30

Runs the workload once untraced and twice traced at the same seed, one run
after another. Passes when the two traced runs record identical counts:
rows read, valid and applied per replay batch; rows written, files rewritten
and files added by the replay's merges; files scanned per lookup; commits to
the snapshot logs; rows returned per query. Prints the tracing overhead as
each end-to-end metric of the traced runs relative to the untraced run.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, str | None]:
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed (trace={trace}, exit {proc.returncode})")
    trace_path = None
    for line in proc.stderr.splitlines():
        if line.startswith("perfbench: trace written to "):
            trace_path = line.split(" to ", 1)[1].strip()
    return json.loads(lines[-1]), trace_path


def _counts(trace: dict, n_lookups: int) -> dict:
    """The counts a seed fixes. The number of lookups depends on how fast
    the replay finished, so lookups compare over the common prefix (the key
    sequence is drawn from the seed)."""
    layers = trace["layers"]
    counts = dict(trace["counts"])
    if "lookup_keys" in counts:
        counts["lookup_keys"] = counts["lookup_keys"][:n_lookups]
    return {
        "per_batch": layers["per_batch"],
        "merge.rows_written": layers["merge.rows_written"],
        "merge.files_rewritten": layers["merge.files_rewritten"],
        "merge.files_added": layers["merge.files_added"],
        "lookup_files_scanned": layers["lookup_files_scanned"][:n_lookups],
        "log.commits": layers["log.commits"],
        "workload": counts,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--seconds", type=float, default=30)
    args = ap.parse_args()

    plain, _ = _run(args.workload, args.seed, args.seconds, 0)
    traces = []
    for _ in range(2):
        _, path = _run(args.workload, args.seed, args.seconds, 1)
        with open(path) as f:
            traces.append(json.load(f))
    n_lookups = min(len(t["layers"]["lookup_files_scanned"]) for t in traces)
    a, b = (_counts(t, n_lookups) for t in traces)
    differing = sorted(k for k in a if a[k] != b[k])
    overhead = {
        name: [
            t["e2e_traced"][name] / m["value"] - 1.0 for t in traces
        ]
        for name, m in plain["metrics"].items()
    }
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "counts_repeat": not differing, "differing": differing,
        "untraced": {k: v["value"] for k, v in plain["metrics"].items()},
        "tracing_overhead": overhead,
        "counts": a,
    }, indent=1))
    return 0 if not differing else 1


if __name__ == "__main__":
    sys.exit(main())

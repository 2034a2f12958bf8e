#!/usr/bin/env python3
"""Benchmark of the CDC engine: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload replay_bulk --seed 7 --seconds 30 --trace 0

Run from the repository root. The workloads and metrics are defined in
``BENCHMARK.json`` and explained in ``perfbench/NOTES.md``. Every input is
generated from ``--seed`` inside the run's work directory
(``.bench_work/`` under the repository root), outputs are checked after the
timed phase, and the last line of standard output is::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics with the engine unmodified;
``--trace 1`` wraps the engine's layer calls in spans, enables the Spark
event log, reports the per-layer metrics, and writes the spans and the full
per-layer breakdown to ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))

# end-to-end metrics (untraced runs) and their units; every workload
# reports every one of them (see NOTES.md for each workload's definition)
E2E_UNITS = {"setup_s": "s", "work_s": "s"}


def _parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (Linux /proc walk)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MiB."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and the Python workers it
    forked, and wait until each has exited."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    below = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    # the gateway JVM exits when its stdin closes; its Python workers exit
    # when the JVM's end of their pipes closes
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — a hung JVM is killed, never left behind
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in below:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv: list[str]) -> int:
    args = _parse_args(argv)
    run_dir = os.path.join(
        WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    # every temporary file of the engine, Spark and the Python workers stays
    # inside the checkout
    os.environ["TMPDIR"] = tmp_dir
    tempfile.tempdir = None

    sys.path.insert(0, ROOT)
    sys.path.insert(0, BENCH_DIR)
    try:
        from cdm_data_loader_utils_spark.session import get_spark
        import workloads
        from tracing import Tracer, event_log_conf
    except ImportError as e:
        print(f"perfbench: cannot import the engine or the benchmark: {e}",
              file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 3
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    tracer = Tracer() if args.trace else None
    event_dir = os.path.join(run_dir, "eventlog")
    cpus = len(os.sched_getaffinity(0))
    conf = {
        # bounded heap: the host's memory is shared; the engine's own
        # default (32g) is sized for a dedicated machine
        "spark.driver.memory": "4g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
    }
    if tracer is not None:
        conf.update(event_log_conf(event_dir))
        tracer.install()

    ctx = workloads.RunContext(
        seed=args.seed, seconds=args.seconds, run_dir=run_dir,
        tracer=tracer, t_process=T_PROCESS,
    )
    spark = None
    result = None
    live = None
    try:
        t0 = time.perf_counter()
        with ctx.span("session.get_spark"):
            spark = get_spark(
                app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]",
                shuffle_partitions=cpus, extra_conf=conf,
            )
        spark.sparkContext.setLogLevel("ERROR")
        if tracer is not None:
            tracer.spark = spark
        ctx.spark = spark
        ctx.session_s = time.perf_counter() - t0
        result = workloads.WORKLOADS[args.workload](ctx)
        ctx.peak_rss_mb = jvm_peak_rss_mb(spark)
        if tracer is not None:
            tracer.uninstall()
            from layers import collect_live

            live = collect_live(ctx, result)
    except Exception as e:  # noqa: BLE001 — a crashed run prints no result
        import traceback

        traceback.print_exc()
        print(f"perfbench: workload {args.workload} failed: {e}", file=sys.stderr)
        result = None
    finally:
        if spark is not None:
            stop_spark(spark)
    if result is None:
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1

    if tracer is not None:
        from layers import layer_metrics

        metrics, full = layer_metrics(ctx, result, event_dir, live)
        trace_path = os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
        )
        tracer.dump(trace_path, {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "cpus": cpus,
            "correct": result.failed == 0, "attempted": result.attempted,
            "failed": result.failed, "e2e_traced": result.e2e,
            "counts": result.counts, "layers": full,
        })
        print(f"perfbench: trace written to {trace_path}", file=sys.stderr)
    else:
        metrics = {
            name: {"value": result.e2e[name], "unit": unit}
            for name, unit in E2E_UNITS.items()
        }
        summary_path = os.path.join(WORK, "results", f"{args.workload}.jsonl")
        os.makedirs(os.path.dirname(summary_path), exist_ok=True)
        with open(summary_path, "a") as f:
            f.write(json.dumps({
                "seed": args.seed, "seconds": args.seconds,
                "e2e": result.e2e, "info": result.info,
                "failed": result.failed, "attempted": result.attempted,
            }) + "\n")
    for line in result.notes:
        print(f"perfbench: {line}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Re-bucket under load at the 100× table — the designed-but-unproven knob
for the CoW rewrite ceiling (r5 verdict item 1; docs/SCALE.md capacity
math). Builds the 408M-event table, measures merge cost in the 64-bucket
layout, lets ``maintenance_plan`` recommend ``rebucket_to``, runs the
re-bucket via ``compact(new_bucket_count=…)``, then repeats the SAME merge
waves into the new layout.

Two wave shapes, because they stress different properties:

* ``uniform`` — events over the full conversation universe (every bucket
  touched): measures steady-state bulk-ingest throughput, where more
  buckets mainly change write granularity, not rewrite volume;
* ``hot`` — events over a 32-conversation subset (≤32 buckets touched):
  the shape re-bucketing exists for — bucket-pruned copy-on-write rewrites
  only touched buckets, so rewrite volume per small batch falls roughly
  with bucket size (≈ table_bytes × touched/bucket_count).

    python tools/bench_rebucket_100x.py --events 400000000 \
        --out /tmp/rebucket_100x.json
    # dev smoke:
    python tools/bench_rebucket_100x.py --events 4000000 --wave-events 1000000

Prints one JSON line; run exclusively (noisy multi-tenant host).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cdm_data_loader_utils_spark.lake.table import LakeTable  # noqa: E402
from cdm_data_loader_utils_spark.schemas import TRANSCRIPT_SCHEMA  # noqa: E402
from cdm_data_loader_utils_spark.session import get_spark  # noqa: E402
from cdm_data_loader_utils_spark.sources.events import (  # noqa: E402
    generate_change_events,
)
from cdm_data_loader_utils_spark.streaming.replay import replay_batches  # noqa: E402


def write_events(spark, path: str, n_events: int, n_convs: int, seed: int,
                 lsn_offset: int, batches: int) -> None:
    """Materialize a wave's events (untimed; the metric is ingest, not
    synthesis). lsn shift places the wave AFTER everything before it in
    LWW order; batch ids restart at 0 per wave (each wave replays under
    its own run_id, so fences never collide)."""
    gen = generate_change_events(
        spark, n_events=n_events, n_convs=n_convs,
        turns_per_conv=50, seed=seed, ooo_window=10_000,
        batch_size=max(1, n_events // batches),
        tool_from_lsn=0 if lsn_offset else n_events // 2,
    )
    gen = gen.withColumn("lsn", F.col("lsn") + F.lit(lsn_offset))
    gen.write.partitionBy("batch_id").parquet(path)


def replay_wave(spark, path: str, table: LakeTable, run_id: str) -> dict:
    events = spark.read.parquet(path)
    n = events.count()
    before = {f.path for f in table.files()}
    t0 = time.perf_counter()
    replay_batches(events, table, None, run_id)
    dt = time.perf_counter() - t0
    # exact copy-on-write rewrite volume: rows in files this wave created
    # (merged output INCLUDING carried-forward copies of untouched rows —
    # the cost re-bucketing is designed to bound)
    new_rows = sum(f.rows for f in table.files() if f.path not in before)
    return {"events": n, "sec": round(dt, 1), "ev_per_sec": int(n / dt),
            "rows_rewritten": int(new_rows)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=400_000_000)
    ap.add_argument("--wave-events", type=int, default=50_000_000,
                    help="uniform wave size (same universe as the build)")
    ap.add_argument("--hot-events", type=int, default=1_000_000,
                    help="hot wave size (32-conversation subset)")
    ap.add_argument("--target-rows-per-bucket", type=int, default=100_000,
                    help="maintenance_plan growth threshold for this leg")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--tmp", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="bench-rebucket-100x",
                      master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    tmp = args.tmp or tempfile.mkdtemp(prefix="rebucket_100x_")
    os.makedirs(tmp, exist_ok=True)
    res: dict = {"events": args.events, "cpus": args.cpus}
    n_convs = max(1000, args.events // 1000)

    def log(msg):
        print(f"# {msg}", file=sys.stderr, flush=True)

    try:
        # ---- phase 1: build the 100x table at 64 buckets
        build_path = os.path.join(tmp, "ev_build")
        log("generating build events...")
        write_events(spark, build_path, args.events, n_convs, seed=42,
                     lsn_offset=0, batches=4)
        table = LakeTable.create(
            spark, os.path.join(tmp, "transcripts"), TRANSCRIPT_SCHEMA,
            bucket_by="conv_id", bucket_count=64,
        )
        log("replaying build...")
        res["build"] = replay_wave(spark, build_path, table, "build")
        shutil.rmtree(build_path, ignore_errors=True)
        log(f"build: {res['build']}")
        lsn_hi = args.events

        # ---- phase 2: merge-cost waves in the OLD layout
        for name, n_ev, convs in (
            ("uniform_before", args.wave_events, n_convs),
            ("hot_before", args.hot_events, 32),
        ):
            p = os.path.join(tmp, f"ev_{name}")
            write_events(spark, p, n_ev, convs, seed=43, lsn_offset=lsn_hi,
                         batches=2)
            lsn_hi += n_ev
            res[name] = replay_wave(spark, p, table, name)
            shutil.rmtree(p, ignore_errors=True)
            log(f"{name}: {res[name]}")

        # ---- phase 3: maintenance_plan recommendation + re-bucket
        plan = table.maintenance_plan(
            target_rows_per_bucket=args.target_rows_per_bucket)
        res["plan"] = {
            "rebucket_to": plan["rebucket_to"],
            "rows": plan["stats"]["rows"],
            "files": plan["stats"]["files"],
            "rows_per_bucket_mean": round(
                plan["stats"]["rows_per_bucket_mean"]),
            "bucket_skew": round(plan["stats"]["bucket_skew"], 2),
            "target_rows_per_bucket": args.target_rows_per_bucket,
        }
        log(f"plan: {res['plan']}")
        new_count = plan["rebucket_to"]
        if not new_count:
            res["note"] = ("maintenance_plan recommended no growth at this "
                           "target; rebucket skipped")
            print(json.dumps(res))
            return
        t0 = time.perf_counter()
        table.compact(new_bucket_count=new_count)
        res["rebucket"] = {
            "to": new_count,
            "sec": round(time.perf_counter() - t0, 1),
            "files_after": len(table.files()),
        }
        log(f"rebucket: {res['rebucket']}")

        # ---- phase 4: the SAME wave shapes in the NEW layout
        for name, n_ev, convs in (
            ("uniform_after", args.wave_events, n_convs),
            ("hot_after", args.hot_events, 32),
        ):
            p = os.path.join(tmp, f"ev_{name}")
            write_events(spark, p, n_ev, convs, seed=44, lsn_offset=lsn_hi,
                         batches=2)
            lsn_hi += n_ev
            res[name] = replay_wave(spark, p, table, name)
            shutil.rmtree(p, ignore_errors=True)
            log(f"{name}: {res[name]}")

        res["hot_rewrite_ratio"] = round(
            res["hot_before"]["rows_rewritten"]
            / max(1, res["hot_after"]["rows_rewritten"]), 2)
        out = json.dumps(res)
        print(out)
        if args.out:
            with open(args.out, "w") as f:
                f.write(out + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()

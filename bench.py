"""Benchmark harness: headline queries + CDC replay throughput.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32) and prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "events_per_sec": ...}

Scaling-efficiency runs (N vs 4N cores) are produced by
``tools/bench_scaling.py`` which invokes this file at two parallelism levels
and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cdm_data_loader_utils_spark import queries as Q  # noqa: E402
from cdm_data_loader_utils_spark.session import get_spark  # noqa: E402

# headline query subset: the flagship CDC path + the shuffle/join/agg-heavy
# relational ops + the scale-path near-dup/similarity ops (exact quadratic
# jaccard is deliberately excluded: it is the baseline the LSH path replaces)
BENCH_QUERIES = [
    "lww_latest_turn",
    "cdc_replay_final_state",
    "snapshot_diff_classify",
    "pricing_summary",
    "broadcast_dim_join",
    "region_rollup",
    "composite_outer_join",
    "exact_dedup",
    "minhash_lsh_near_dups",
    "simhash_near_dups",
    "embedding_cosine_pairs",
    "embedding_neardup_blocked",
    "cosine_topk",
    "ann_lsh_topk",
    "ivf_ann_topk",
    "windowed_event_counts",
    "text_profile",
    "union_fold",
]

REPLAY_EVENTS = int(os.environ.get("BENCH_REPLAY_EVENTS", "4000000"))


def bench_replay_throughput(spark, n_events: int) -> tuple[float, int]:
    """Flagship metric: synthetic change-event stream → exactly-once MERGE
    replay into a bucketed lake table. Returns (seconds, events delivered)."""
    from cdm_data_loader_utils_spark.lake.table import LakeTable
    from cdm_data_loader_utils_spark.schemas import TRANSCRIPT_SCHEMA
    from cdm_data_loader_utils_spark.sources.events import generate_change_events
    from cdm_data_loader_utils_spark.streaming.replay import replay_batches

    tmp = tempfile.mkdtemp(prefix="bench_replay_")
    try:
        gen = generate_change_events(
            spark,
            n_events=n_events,
            n_convs=max(1000, n_events // 1000),
            turns_per_conv=50,
            seed=42,
            ooo_window=10_000,
            batch_size=max(1, n_events // 4),
            tool_from_lsn=n_events // 2,
        )
        # materialize the stream first (untimed): the metric is ingest
        # throughput of delivered events, not synthesis cost. Partitioned by
        # batch_id — a WAL tail reads only the new files per micro-batch, so
        # each replay batch is a partition-pruned scan, not a rescan of the
        # whole history (4 batches over one flat dir = 4× read amplification)
        events_path = os.path.join(tmp, "events")
        gen.write.partitionBy("batch_id").parquet(events_path)
        events = spark.read.parquet(events_path)
        n_delivered = events.count()
        # untimed warm-up replay: JIT/codegen compilation otherwise lands in
        # the first timed batch and skews the parallelism comparison
        warm = LakeTable.create(
            spark, os.path.join(tmp, "warm"), TRANSCRIPT_SCHEMA,
            bucket_by="conv_id", bucket_count=64,
        )
        warm_events = generate_change_events(
            spark, n_events=100_000, n_convs=1000, seed=7,
            batch_size=50_000,
        )
        replay_batches(warm_events, warm, None, "warmup")
        table = LakeTable.create(
            spark,
            os.path.join(tmp, "transcripts"),
            TRANSCRIPT_SCHEMA,
            bucket_by="conv_id",
            bucket_count=64,
        )
        t0 = time.perf_counter()
        replay_batches(events, table, None, "bench-run")
        dt = time.perf_counter() - t0
        return dt, n_delivered
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="cdc-engine-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    qmap = Q.queries()
    timings: dict[str, float] = {}
    # BENCH_ONLY_REPLAY=1 → scaling-efficiency mode: skip the query suite so
    # each measured leg is exactly the replay job (tools/bench_scaling.py).
    # BENCH_ONLY_QUERIES=a,b → run just that query subset (interleaved
    # old-vs-new regression legs time one family without suite overhead).
    only_replay = os.environ.get("BENCH_ONLY_REPLAY", "") == "1"
    subset = [
        s for s in os.environ.get("BENCH_ONLY_QUERIES", "").split(",") if s
    ]
    run_queries = subset if subset else BENCH_QUERIES
    from cdm_data_loader_utils_spark.operators.cache import release

    for name in [] if only_replay else run_queries:
        t0 = time.perf_counter()
        df = qmap[name](spark, sf_dir)
        n = df.count()
        timings[name] = round(time.perf_counter() - t0, 3)
        # reclaim operator-internal caches so successive queries don't
        # accumulate storage-pool pressure across the suite
        release(df)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)

    # BENCH_SKIP_REPLAY=1 → time ONLY the requested query subset (an
    # interleaved non-replay family leg must not pay the multi-minute
    # replay job per leg). Default keeps the replay — it is the headline.
    doc: dict = {}
    if os.environ.get("BENCH_SKIP_REPLAY", "") != "1":
        replay_sec, replay_events = bench_replay_throughput(spark, REPLAY_EVENTS)
        timings["cdc_replay_synthetic"] = round(replay_sec, 3)
        events_per_sec = int(replay_events / replay_sec)
        doc = {"events_per_sec": events_per_sec, "replay_events": replay_events}
        print(
            f"# cdc_replay_synthetic: {replay_sec:.3f}s "
            f"({replay_events} events, {events_per_sec}/s)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "change-events/sec sustained upsert throughput (CDC replay into lake table) + headline query suite",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                **doc,
                "cpus": int(cpus),
            }
        )
    )


if __name__ == "__main__":
    main()

"""The benchmark's workloads. Each takes a :class:`RunContext` holding a
started session and returns a :class:`Result`; the set-up, the timed phase
and the checks are separate steps, and only the timed phase feeds the
end-to-end metrics.

Both workloads are closed loops driven by one caller: the next operation
starts only after the previous one returned.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------- plumbing


@dataclass
class RunContext:
    seed: int
    seconds: float
    run_dir: str
    tracer: object | None
    t_process: float
    spark: object | None = None
    session_s: float = 0.0
    peak_rss_mb: float = 0.0

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)


@dataclass
class Result:
    e2e: dict[str, float]
    attempted: int
    failed: int
    # exact counts the traced self-test compares across runs of one seed
    counts: dict = field(default_factory=dict)
    # extra figures for the results file (not on the result line)
    info: dict = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    # workload-specific handles the per-layer pass reads
    layer_input: dict = field(default_factory=dict)


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def _pct(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return float(s[min(len(s) - 1, int(math.ceil(q * len(s))) - 1)])


# ------------------------------------------------------------- replay_bulk

# Stream shape: two large micro-batches, each deduping to 50k-1M keys so
# the merge takes the decision path (the second one rewrites the files the
# first wrote). LSNs arrive out of order within a 1k-event window, across
# the batch boundary too; the batch size leaves room for that window so no
# original event spills past the second batch. ~2% of events are delivered
# twice: the first batch's duplicates arrive in the second batch; the
# second batch's would form a third, small batch, which is not delivered
# (the run budget has no room for its fixed merge cost; the join path runs
# in ``query_suite``'s ``cdc_replay_final_state``). The first batch arrives
# without the ``tool`` column; ``tool`` values start at the second batch's
# first LSN, so the replayed state must still equal the LWW fold of the
# delivered stream. 20k conversations x 50 turns = 1M keys, 1% of
# conversations receive 30% of the events (hot keys). The engine's
# ``bench.py`` replays 4M events into 64 buckets; at 130k events 16
# buckets keep several thousand rows per file.
REPLAY_EVENTS = 130_000
REPLAY_OOO = 1_000
REPLAY_BATCH = REPLAY_EVENTS // 2 + REPLAY_OOO
REPLAY_CONVS = 20_000
REPLAY_TURNS = 50
REPLAY_BUCKETS = 16
WARM_LOOKUPS = 2
MIN_LOOKUPS = 10
DECISION_MIN, DECISION_MAX = 50_000, 1_000_000


def replay_bulk(ctx: RunContext) -> Result:
    from pyspark.sql import functions as F

    from cdm_data_loader_utils_spark.audit.tables import AuditStore
    from cdm_data_loader_utils_spark.lake.table import LakeTable
    from cdm_data_loader_utils_spark.schemas import TRANSCRIPT_SCHEMA
    from cdm_data_loader_utils_spark.sources.events import (
        expected_final_state,
        generate_change_events,
    )
    from cdm_data_loader_utils_spark.streaming import replay

    spark, seed = ctx.spark, ctx.seed
    work = os.path.join(ctx.run_dir, "replay")

    # ---- set-up: materialize the seeded stream, create table + audit store
    with ctx.span("setup.inputs"):
        gen = generate_change_events(
            spark, n_events=REPLAY_EVENTS, n_convs=REPLAY_CONVS,
            turns_per_conv=REPLAY_TURNS, seed=seed, ooo_window=REPLAY_OOO,
            batch_size=REPLAY_BATCH, tool_from_lsn=REPLAY_BATCH,
        )
        events_path = os.path.join(work, "events")
        # partitioned by batch_id: each replay batch is a pruned scan of its
        # own files, as a WAL tail reads only the new files
        gen.filter(F.col("batch_id") <= 1).write.partitionBy("batch_id").parquet(
            events_path
        )
        events = spark.read.parquet(events_path)
        n_delivered = events.count()
        table = LakeTable.create(
            spark, os.path.join(work, "transcripts"), TRANSCRIPT_SCHEMA,
            bucket_by="conv_id", bucket_count=REPLAY_BUCKETS,
        )
        audit = AuditStore(spark, os.path.join(work, "warehouse"))
    rng = np.random.default_rng(seed)
    setup_s = time.perf_counter() - ctx.t_process
    run_id = f"bench-{seed}"

    # ---- timed phase: one replay_batches call, then key lookups on its result
    lookups: list[tuple[str, float, list]] = []
    with ctx.span("workload.timed"):
        t_start = time.perf_counter()
        results = replay.replay_batches(
            events, table, audit, run_id, drop_tool_below_batch=1,
        )
        replay_s = time.perf_counter() - t_start
        deadline = t_start + ctx.seconds
        # the first lookups on a new table warm the read path (JIT,
        # file-format readers); they are checked but not in the median
        while len(lookups) < WARM_LOOKUPS + MIN_LOOKUPS or (
            time.perf_counter() < deadline and len(lookups) < 1000
        ):
            key = f"conv-{int(rng.integers(0, REPLAY_CONVS)):08d}"
            t0 = time.perf_counter()
            with ctx.span("query.lookup", key=key):
                rows = table.read(where=[("conv_id", "=", key)]).collect()
            lookups.append((key, time.perf_counter() - t0, rows))
    timed_s = time.perf_counter() - t_start

    # ---- checks (untimed)
    t_checks = time.perf_counter()
    failed = 0
    notes: list[str] = []
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    expected = expected_final_state(events).select(*cols)
    got = table.read().select(*cols)
    diff = got.exceptAll(expected).unionByName(expected.exceptAll(got)).count()
    if diff:
        failed += 1
        notes.append(f"final state differs from the LWW fold in {diff} rows")
    keys = sorted({k for k, _, _ in lookups})
    exp_rows: dict[str, set] = {k: set() for k in keys}
    for r in expected.filter(F.col("conv_id").isin(keys)).collect():
        exp_rows[r["conv_id"]].add(tuple(r[c] for c in cols))
    for key, _, rows in lookups:
        if {tuple(r[c] for c in cols) for r in rows} != exp_rows[key]:
            failed += 1
            notes.append(f"lookup {key} returned wrong rows")
    for r in results:
        if r.rows_read >= DECISION_MIN and not (
            DECISION_MIN <= r.rows_applied <= DECISION_MAX
        ):
            failed += 1
            notes.append(
                f"batch {r.batch_id}: {r.rows_applied} deduped rows, outside "
                f"the decision-path range"
            )
    if sum(r.rows_read for r in results) != n_delivered:
        failed += 1
        notes.append("replay did not read every delivered event")
    # exactly-once: a second call with the same run_id must skip every batch
    # on the table's fence log alone (no audit checkpoint to resume from)
    snap_before = table.snapshot_id
    rerun = replay.replay_batches(
        events, table, None, run_id, drop_tool_below_batch=1,
    )
    if not all(r.skipped for r in rerun) or table.snapshot_id != snap_before:
        failed += 1
        notes.append("re-running the replay applied a fenced batch")

    checks_s = time.perf_counter() - t_checks
    lat = [d for _, d, _ in lookups[WARM_LOOKUPS:]]
    e2e = {"setup_s": setup_s, "work_s": replay_s}
    notes.append(
        f"replay_bulk seed={seed}: {n_delivered} events in {replay_s:.2f} s "
        f"({n_delivered / replay_s:.0f} events/s), {len(lat)} timed lookups "
        f"p50 {_median(lat):.3f} s, setup {setup_s:.2f} s "
        f"(session {ctx.session_s:.2f} s), checks {checks_s:.2f} s"
    )
    batches = [
        {"batch_id": r.batch_id, "rows_read": r.rows_read,
         "rows_valid": r.rows_valid, "rows_applied": r.rows_applied}
        for r in results
    ]
    return Result(
        e2e=e2e,
        attempted=len(results) + len(lookups) + 3,
        failed=failed,
        counts={"batches": batches, "lookup_keys": [k for k, _, _ in lookups]},
        info={
            "events": n_delivered,
            "events_per_s": n_delivered / replay_s,
            "lookups": len(lat),
            "op_p50_s": _median(lat),
            "lookup_p90_s": _pct(lat, 0.9),
            "session_s": ctx.session_s,
            "timed_s": timed_s,
            "checks_s": checks_s,
        },
        notes=notes,
        layer_input={
            "table": table, "lookup_keys": [k for k, _, _ in lookups],
            "bucket_count": REPLAY_BUCKETS,
            "audit": audit,
        },
    )


# ------------------------------------------------------------- query_suite

# The 18 bench queries, by family (the family sums are per-layer figures).
QUERY_FAMILIES = {
    "cdc": ["lww_latest_turn", "cdc_replay_final_state",
            "snapshot_diff_classify", "windowed_event_counts", "union_fold"],
    "relational": ["pricing_summary", "broadcast_dim_join", "region_rollup",
                   "composite_outer_join"],
    "text": ["exact_dedup", "minhash_lsh_near_dups", "simhash_near_dups",
             "text_profile"],
    "vector": ["embedding_cosine_pairs", "embedding_neardup_blocked",
               "cosine_topk", "ann_lsh_topk", "ivf_ann_topk"],
}
SUITE = [q for qs in QUERY_FAMILIES.values() for q in qs]


def _canon(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _canon_rows(cols: list[str], rows) -> list[tuple]:
    return sorted(tuple(_canon(r[c]) for c in cols) for r in rows)


def query_suite(ctx: RunContext) -> Result:
    import duckdb

    from cdm_data_loader_utils_spark import queries as Q
    from cdm_data_loader_utils_spark.operators.cache import release

    import datagen

    spark = ctx.spark
    with ctx.span("setup.inputs"):
        sf_dir = datagen.write_tables(ctx.seed, os.path.join(ctx.run_dir, "sf"))
    qmap = Q.queries()
    setup_s = time.perf_counter() - ctx.t_process

    # ---- timed phase: one sequential pass over the suite in the fresh
    # session, every result collected in full (all rows, every column
    # computed). One pass is the unit of work: a second, warm pass would
    # change what the figure means once the suite gets faster.
    t_start = time.perf_counter()
    times: dict[str, float] = {}
    outputs: dict[str, tuple[list[str], list[tuple]]] = {}
    with ctx.span("workload.timed"):
        for name in SUITE:
            t0 = time.perf_counter()
            with ctx.span(f"query.{name}"):
                df = qmap[name](spark, sf_dir)
                rows = df.collect()
            times[name] = time.perf_counter() - t0
            release(df)
            cols = sorted(df.columns)
            outputs[name] = (cols, _canon_rows(cols, rows))
    timed_s = time.perf_counter() - t_start

    # ---- checks (untimed): every result against its DuckDB oracle
    t_checks = time.perf_counter()
    failed = 0
    notes: list[str] = []
    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(sf_dir, t + '.parquet')}'"
            )
        oracles = Q.oracle_sql()
        for name in SUITE:
            cols, canon = outputs[name]
            od = con.execute(oracles[name]).fetchdf()
            exp = sorted(
                tuple(_canon(v) for v in row)
                for row in od[cols].itertuples(index=False, name=None)
            ) if sorted(od.columns) == cols else None
            if exp is None or canon != exp:
                failed += 1
                notes.append(f"query {name}: result differs from its oracle")
    finally:
        con.close()

    checks_s = time.perf_counter() - t_checks
    e2e = {"setup_s": setup_s, "work_s": sum(times.values())}
    families = {
        fam: sum(times[q] for q in qs) for fam, qs in QUERY_FAMILIES.items()
    }
    notes.append(
        f"query_suite seed={ctx.seed}: suite "
        f"{e2e['work_s']:.2f} s ("
        + ", ".join(f"{f} {s:.2f}" for f, s in families.items())
        + f"), setup {setup_s:.2f} s (session {ctx.session_s:.2f} s), "
        f"checks {checks_s:.2f} s"
    )
    return Result(
        e2e=e2e,
        attempted=len(SUITE),
        failed=failed,
        counts={"rows": {q: len(outputs[q][1]) for q in SUITE}},
        info={
            "per_query_s": times, "family_s": families,
            "op_p50_s": _median(list(times.values())),
            "session_s": ctx.session_s, "timed_s": timed_s,
            "checks_s": checks_s,
        },
        notes=notes,
        layer_input={"families": families},
    )


WORKLOADS = {"replay_bulk": replay_bulk, "query_suite": query_suite}

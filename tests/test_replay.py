"""End-to-end CDC replay correctness — mirrors the reference's golden-file
end-to-end strategy (``/root/reference/tests/parsers/test_genome_loader.py:
83-124``) with a pure-pandas oracle (FIXTURES.md §5): engine final state after
full replay must equal the oracle fold row-for-row, including restarts,
duplicate delivery, out-of-order LSNs, skew, and the schema-evolution wave."""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.sql import functions as F

from cdm_data_loader_utils_spark.audit.tables import AuditStore
from cdm_data_loader_utils_spark.lake.table import LakeTable
from cdm_data_loader_utils_spark.schemas import TRANSCRIPT_SCHEMA
from cdm_data_loader_utils_spark.sources.events import (
    expected_final_state,
    generate_change_events,
)
from cdm_data_loader_utils_spark.streaming.replay import (
    apply_batch,
    replay_batches,
    stream_events,
)

from .conftest import assert_df_equal

N_EVENTS = 4000


def _mk_table(spark, warehouse, name="transcripts"):
    return LakeTable.create(
        spark,
        os.path.join(warehouse, name),
        TRANSCRIPT_SCHEMA,
        bucket_by="conv_id",
        bucket_count=8,
    )


def _events(spark, **kw):
    args = dict(
        n_events=N_EVENTS, n_convs=40, turns_per_conv=20, seed=42,
        ooo_window=200, batch_size=1000, tool_from_lsn=2000,
    )
    args.update(kw)
    return generate_change_events(spark, **args)


def pandas_oracle(events_pdf: pd.DataFrame) -> pd.DataFrame:
    """FIXTURES.md §5: sort by (lsn, ts); fold; delete removes."""
    state: dict[tuple, dict] = {}
    for _, e in events_pdf.sort_values(["lsn", "ts"]).iterrows():
        k = (e["conv_id"], e["turn_idx"])
        if e["op"] == "d":
            state.pop(k, None)
        else:
            state[k] = {
                "conv_id": e["conv_id"], "turn_idx": e["turn_idx"],
                "role": e["role"], "text": e["text"],
                "tool": e["tool"], "ts": e["ts"],
            }
    rows = [state[k] for k in sorted(state)]
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])


def _check_final(table, events):
    got = (
        table.read()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = pandas_oracle(events.drop("batch_id").toPandas())
    exp["turn_idx"] = exp["turn_idx"].astype("int32")
    pd.testing.assert_frame_equal(got, exp.reset_index(drop=True), check_dtype=False)


def test_full_replay_equals_oracle(spark, warehouse):
    events = _events(spark)
    table = _mk_table(spark, warehouse)
    audit = AuditStore(spark, os.path.join(warehouse, "audit"))
    run_id = "run-" + uuid.uuid4().hex[:8]
    results = replay_batches(events, table, audit, run_id)
    assert all(not r.skipped for r in results)
    _check_final(table, events)
    # spark-side oracle agrees too
    assert_df_equal(table.read(), expected_final_state(events), ["conv_id", "turn_idx"])
    # audit totals add up
    m = audit.run_metrics(run_id).collect()[0]
    assert m["rows_read"] == events.count()
    assert m["error_batches"] == 0
    assert audit.lineage_report(run_id).count() > 0
    # one data file per audit commit: one per logged batch (its total row
    # plus per-bucket lineage rows), one for the run's state row
    assert len(audit.ingest_log.files()) == len(results)
    assert len(audit.runs.files()) == 1


def test_replay_is_parallelism_invariant_batching(spark, warehouse):
    """Different batch sizes (different micro-batch boundaries) must converge
    to the identical final state — the sandbox proxy for N vs 4N executors."""
    events_a = _events(spark, batch_size=500)
    events_b = _events(spark, batch_size=2000)
    ta = _mk_table(spark, warehouse, "ta")
    tb = _mk_table(spark, warehouse, "tb")
    replay_batches(events_a, ta, None, "runA")
    replay_batches(events_b, tb, None, "runB")
    assert_df_equal(ta.read(), tb.read(), ["conv_id", "turn_idx"])


def test_restart_resumes_without_double_apply(spark, warehouse):
    events = _events(spark)
    table = _mk_table(spark, warehouse)
    audit = AuditStore(spark, os.path.join(warehouse, "audit"))
    run_id = "run-restart"
    bids = sorted(
        int(r[0]) for r in events.select("batch_id").distinct().collect()
    )
    # apply first two batches, "crash", then resume the whole stream
    for bid in bids[:2]:
        apply_batch(events.filter(F.col("batch_id") == bid), table, audit, run_id, bid)
    results = replay_batches(events, table, audit, run_id, resume=True)
    applied_again = [r for r in results if r.batch_id in bids[:2] and not r.skipped]
    assert not applied_again, "resumed replay must not re-apply committed batches"
    _check_final(table, events)


def test_fencing_blocks_duplicate_batch(spark, warehouse):
    events = _events(spark)
    table = _mk_table(spark, warehouse)
    bid = int(events.select(F.min("batch_id")).collect()[0][0])
    batch = events.filter(F.col("batch_id") == bid)
    r1 = apply_batch(batch, table, None, "runF", bid)
    snap_after = table.snapshot_id
    r2 = apply_batch(batch, table, None, "runF", bid)
    assert not r1.skipped and r2.skipped
    assert r2.snapshot_id == r1.snapshot_id
    assert table.snapshot_id == snap_after, "fenced batch must not commit"


def test_schema_evolution_wave(spark, warehouse):
    """Early batches delivered WITHOUT the tool column; later ones with it.
    Final state must still match the oracle (tool null where never set)."""
    events = _events(spark)
    table = _mk_table(spark, warehouse)
    replay_batches(events, table, None, "runS", drop_tool_below_batch=2)
    # dropping the column only matters if early batches would have carried
    # non-null tool values; with tool_from_lsn=2000 they're null anyway, so
    # the oracle is unchanged — the *schema* path is what's exercised.
    _check_final(table, events)
    assert "tool" in [f.name for f in table.read().schema.fields]


def test_rejects_captured(spark, warehouse):
    events = _events(spark)
    # poison a slice: negative turn_idx and bad op
    poisoned = events.withColumn(
        "turn_idx",
        F.when(F.col("lsn") % 97 == 0, F.lit(-1)).otherwise(F.col("turn_idx")),
    ).withColumn(
        "op", F.when(F.col("lsn") % 101 == 0, F.lit("x")).otherwise(F.col("op"))
    )
    table = _mk_table(spark, warehouse)
    audit = AuditStore(spark, os.path.join(warehouse, "audit"))
    run_id = "run-rej"
    replay_batches(poisoned, table, audit, run_id)
    m = audit.run_metrics(run_id).collect()[0]
    assert m["rows_invalid"] > 0
    rej = audit.rejects.read()
    assert rej.count() == m["rows_invalid"]
    errs = {e for r in rej.select("errors_in_record").collect() for e in r[0]}
    assert any("turn_idx < 0" in e for e in errs)
    assert any("op not in" in e for e in errs)
    # final state equals oracle over the VALID events only
    clean = poisoned.filter(
        (F.col("turn_idx") >= 0) & F.col("op").isin("i", "u", "d")
    )
    _check_final(table, clean)


def test_structured_streaming_availablenow(spark, warehouse):
    events = _events(spark)
    events_dir = os.path.join(warehouse, "events_in")
    events.repartition(6).write.parquet(events_dir)
    table = _mk_table(spark, warehouse)
    audit = AuditStore(spark, os.path.join(warehouse, "audit"))
    stream_events(
        spark, events_dir, table, audit, "run-stream",
        checkpoint_dir=os.path.join(warehouse, "ckpt"),
        max_files_per_trigger=2,
    )
    _check_final(table, events)
    # restart: AvailableNow over same checkpoint → no new data, no change
    sid = table.snapshot_id
    stream_events(
        spark, events_dir, table, audit, "run-stream",
        checkpoint_dir=os.path.join(warehouse, "ckpt"),
        max_files_per_trigger=2,
    )
    assert table.snapshot_id == sid
    _check_final(table, events)


def test_structured_streaming_processing_time_live_tail(spark, warehouse):
    """Processing-time trigger: the stream keeps polling for NEW files —
    events landed after start are applied without a restart, and the query
    stops cleanly."""
    import time as _t

    events = _events(spark)
    first = events.filter(F.col("batch_id") == 0)
    rest = events.filter(F.col("batch_id") > 0)
    events_dir = os.path.join(warehouse, "events_in")
    first.repartition(2).write.parquet(events_dir)
    table = _mk_table(spark, warehouse)
    audit = AuditStore(spark, os.path.join(warehouse, "audit"))
    q = stream_events(
        spark, events_dir, table, audit, "run-live",
        checkpoint_dir=os.path.join(warehouse, "ckpt"),
        max_files_per_trigger=64,
        trigger="1 seconds",
    )
    try:
        deadline = _t.time() + 60
        while _t.time() < deadline and table.read().count() == 0:
            _t.sleep(0.5)
        assert table.read().count() > 0, "first wave never applied"
        # live tail: drop more files while the query runs
        rest.repartition(2).write.mode("append").parquet(events_dir)
        exp = expected_final_state(events)
        while _t.time() < deadline:
            got = table.read()
            if got.count() == exp.count() and \
               got.exceptAll(exp.select(*got.columns)).count() == 0:
                break
            _t.sleep(0.5)
        _check_final(table, events)
    finally:
        q.stop()
        q.awaitTermination()
    assert not q.isActive


def test_availablenow_honors_timeout_and_resumes(spark, warehouse):
    """timeout_sec must bound the DEFAULT AvailableNow replay too (it was
    previously honored only with a processing-time trigger): a tight
    deadline stops the query mid-replay without error, and a second
    un-bounded run RESUMES from the checkpoint to the exact oracle state."""
    events = _events(spark)
    events_dir = os.path.join(warehouse, "events_in")
    events.repartition(8).write.parquet(events_dir)
    table = _mk_table(spark, warehouse)
    audit = AuditStore(spark, os.path.join(warehouse, "audit"))
    out = stream_events(
        spark, events_dir, table, audit, "run-bounded",
        checkpoint_dir=os.path.join(warehouse, "ckpt"),
        max_files_per_trigger=1,   # many micro-batches → deadline bites
        timeout_sec=0.5,
    )
    assert out is None
    # finish the replay: same run id, same checkpoint, no timeout
    stream_events(
        spark, events_dir, table, audit, "run-bounded",
        checkpoint_dir=os.path.join(warehouse, "ckpt"),
        max_files_per_trigger=8,
    )
    _check_final(table, events)


def test_all_invalid_batch_rejects_instead_of_crashing(spark, warehouse):
    """A micro-batch where EVERY row fails validation must reject the rows
    and commit nothing — not crash. (AQE's empty-relation propagation prunes
    the CollectMetrics node when the valid-filter eliminates the whole
    batch, so the metrics Observation never fires; found by the r5 verify
    drive, fixed with an explicit-count fallback in apply_batch.)"""
    table = _mk_table(spark, warehouse)
    audit = AuditStore(spark, os.path.join(warehouse, "audit"))
    bad = spark.createDataFrame(
        [("c1", -5, "user", "x", None, None, 10, "i", 0),
         ("c2", 1, "user", "y", None, None, 11, "zap", 0)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, lsn long, op string, batch_id int",
    )
    replay_batches(bad, table, audit, "run-all-bad")
    assert table.read().count() == 0
    m = audit.run_metrics("run-all-bad").collect()[0]
    assert m["rows_read"] == 2 and m["rows_invalid"] == 2
    assert audit.rejects.read().filter(
        F.col("run_id") == "run-all-bad").count() == 2


def test_maintenance_racing_live_replay_converges(spark, warehouse):
    """Ops-loop soak: a maintenance thread running maintenance_plan-driven
    compact_buckets + expire_snapshots RACES a live replay on the same
    table (second handle = stand-in for a cron process). Every conflict
    must resolve through the optimistic-retry loop, and the final state
    must still equal the oracle fold — maintenance may reorganize files
    but never change visible rows. Default expire grace protects the
    replay's pinned snapshots' files."""
    import threading

    events = _events(spark, n_events=8000, batch_size=500)  # 16 batches
    table = _mk_table(spark, warehouse)
    maint = LakeTable.load(spark, table.path)
    stop = threading.Event()
    maint_err: list[BaseException] = []
    maint_runs = {"compactions": 0, "expires": 0}

    def maintenance_loop():
        try:
            while not stop.is_set():
                plan = maint.maintenance_plan(max_files_per_bucket=2)
                if plan["compact_buckets"]:
                    maint.compact_buckets(bucket_keys=plan["compact_buckets"])
                    maint_runs["compactions"] += 1
                maint.expire_snapshots(keep_last=2)  # default 600s grace
                maint_runs["expires"] += 1
        except BaseException as e:  # noqa: BLE001 — re-raised by the test
            maint_err.append(e)

    th = threading.Thread(target=maintenance_loop)
    th.start()
    try:
        results = replay_batches(events, table, None, "soak-run")
    finally:
        stop.set()
        th.join(timeout=120)
    assert not th.is_alive(), "maintenance thread wedged"
    assert not maint_err, maint_err
    assert all(not r.skipped for r in results)
    assert maint_runs["expires"] > 0, "maintenance never ran during replay"
    _check_final(table, events)
    # the table still compacts/expires cleanly after the race
    table.compact_buckets()
    table.expire_snapshots(keep_last=1, grace_seconds=0)
    _check_final(table, events)


def test_tail_lake_events_inbox_table_end_to_end(spark, warehouse):
    """The two-hop WAL tail: producers append change events to a lake INBOX
    table; tail_lake_events streams the inbox's snapshot log through
    format("lake") and merges each micro-batch exactly-once. A second wave
    appended later resumes from the same streaming checkpoint — only the
    new commits are read, and double delivery is fenced on the merge hop."""
    from cdm_data_loader_utils_spark.streaming.replay import tail_lake_events

    events = _events(spark)
    batch_ids = sorted(
        r.batch_id for r in events.select("batch_id").distinct().collect()
    )
    first_ids, rest_ids = batch_ids[:2], batch_ids[2:]
    first = events.filter(F.col("batch_id").isin(first_ids))
    inbox = LakeTable.create(
        spark, os.path.join(warehouse, "inbox"), first.drop("batch_id").schema,
        bucket_by="conv_id", bucket_count=4,
    )
    for b in first_ids:
        inbox.append(events.filter(F.col("batch_id") == b).drop("batch_id"),
                     fence_key=f"prod:{b}")
    inbox.compact()  # inbox maintenance must be invisible to the tail

    table = _mk_table(spark, warehouse)
    audit = AuditStore(spark, os.path.join(warehouse, "audit"))
    ckpt = os.path.join(warehouse, "ckpt")
    tail_lake_events(spark, inbox, table, audit, "run-tail", ckpt,
                     max_snapshots_per_trigger=1)
    exp_first = expected_final_state(first)
    got = table.read()
    assert got.count() == exp_first.count()
    assert got.exceptAll(exp_first.select(*got.columns)).count() == 0

    # second wave: resume from the checkpoint, apply ONLY the new commits
    for b in rest_ids:
        inbox.append(events.filter(F.col("batch_id") == b).drop("batch_id"),
                     fence_key=f"prod:{b}")
    tail_lake_events(spark, inbox, table, audit, "run-tail", ckpt,
                     max_snapshots_per_trigger=1)
    _check_final(table, events)


def test_tail_lake_events_with_racing_producers(spark, warehouse):
    """Two-hop soak: two producer threads race fenced appends into the
    SAME inbox table while a live (processing-time) tail_lake_events
    merges downstream. Producer commits resolve through optimistic retry,
    the tail sees each inbox snapshot exactly once, and after a final
    drain the merged table equals the oracle fold of everything both
    producers shipped."""
    import threading

    from cdm_data_loader_utils_spark.streaming.replay import tail_lake_events

    events = _events(spark, n_events=8000, batch_size=500)  # 16 batches
    bids = sorted(
        r.batch_id for r in events.select("batch_id").distinct().collect()
    )
    inbox = LakeTable.create(
        spark, os.path.join(warehouse, "inbox"), events.drop("batch_id").schema,
        bucket_by="conv_id", bucket_count=4,
    )
    table = _mk_table(spark, warehouse)
    ckpt = os.path.join(warehouse, "ckpt")

    prod_errs: list[BaseException] = []

    def producer(my_bids):
        try:
            handle = LakeTable.load(spark, inbox.path)  # own handle = own process stand-in
            for b in my_bids:
                handle.append(
                    events.filter(F.col("batch_id") == b).drop("batch_id"),
                    fence_key=f"prod:{b}",
                )
        except BaseException as e:  # noqa: BLE001 — re-raised by the test
            prod_errs.append(e)

    threads = [
        threading.Thread(target=producer, args=(bids[0::2],)),
        threading.Thread(target=producer, args=(bids[1::2],)),
    ]
    for th in threads:
        th.start()
    # live tail racing the producers, bounded by timeout; then drain
    tail_lake_events(spark, inbox, table, None, "race-tail", ckpt,
                     max_snapshots_per_trigger=2, trigger="1 seconds",
                     timeout_sec=12)
    for th in threads:
        th.join(timeout=120)
        assert not th.is_alive(), "producer wedged"
    assert not prod_errs, prod_errs
    assert inbox.read().count() == events.count()  # all commits landed
    # final availableNow drain from the same checkpoint: exactly-once resume
    tail_lake_events(spark, inbox, table, None, "race-tail", ckpt,
                     max_snapshots_per_trigger=2)
    _check_final(table, events)

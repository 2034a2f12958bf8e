"""Per-layer metrics of a traced run.

Built from three sources: the spans :class:`tracing.Tracer` recorded around
the engine's calls, the lake tables' snapshot logs (rows and files each
commit added or replaced), and the Spark event log (jobs, task time, GC,
shuffle, spill and output bytes per span). Only spans inside the timed
phase (``workload.timed``) count.

:data:`REPORTED` lists the metrics printed on the result line; every
workload exercises each of them. The trace file holds the full breakdown,
including layers only one workload reaches (audit writes, appends, per-query
times, lookup file pruning).
"""

from __future__ import annotations

import os
import statistics

from tracing import JobStats, parse_event_log, stats_for

# name -> unit, in the order of BENCHMARK.json's per_layer list
REPORTED = {
    "session.get_spark_s": "s",
    "replay.batches": "count",
    "replay.prepare_s": "s",
    "replay.prepare_wait_s": "s",
    "replay.apply_s": "s",
    "replay.fence_check_s": "s",
    "replay.rows_read": "count",
    "replay.rows_valid": "count",
    "replay.rows_applied": "count",
    "replay.dedup_ratio": "ratio",
    "merge.s": "s",
    "merge.rows_written": "count",
    "merge.write_amplification": "ratio",
    "merge.files_rewritten": "count",
    "merge.files_added": "count",
    "merge.commit_attempts": "count",
    "merge.jobs": "count",
    "merge.task_s": "s",
    "merge.shuffle_write_bytes": "bytes",
    "merge.output_bytes": "bytes",
    "read.plan_s": "s",
    "log.commits": "count",
    "log.snapshot_bytes": "bytes",
    "query.materialize_s": "s",
    "query.op_p50_s": "s",
    "query.jobs": "count",
    "query.task_s": "s",
    "query.shuffle_write_bytes": "bytes",
    "spark.jobs": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "process.peak_rss_mb": "MB",
}


def _timed_spans(tracer):
    timed = [s for s in tracer.spans if s.name == "workload.timed"]
    if not timed:
        return []
    t = timed[0]
    return [s for s in tracer.spans if s.start >= t.start and (s.end or s.start) <= t.end]


def _sum_dur(spans) -> float:
    return float(sum(s.dur for s in spans))


def collect_live(ctx, result) -> dict:
    """Figures that need the live session or the tables on disk: rows and
    files per commit, snapshot sizes, lookup file pruning. Runs after the
    workload's checks, before the session stops."""
    from cdm_data_loader_utils_spark.lake.table import LakeTable

    spans = _timed_spans(ctx.tracer)
    handles: dict[str, LakeTable] = {}

    def table(path: str) -> LakeTable:
        if path not in handles:
            handles[path] = LakeTable.load(ctx.spark, path)
        return handles[path]

    commits = []
    for s in spans:
        if s.name != "lake.commit" or "snapshot_id" not in s.attrs:
            continue
        a = s.attrs
        t = table(a["table"])
        new = {fe.path: fe.rows for fe in t.files(a["snapshot_id"])}
        old = (
            {fe.path: fe.rows for fe in t.files(a["parent_id"])}
            if a.get("parent_id") is not None else {}
        )
        added = [p for p in new if p not in old]
        log_file = os.path.join(
            a["table"], "_log", f"v{a['snapshot_id']:020d}.json"
        )
        commits.append({
            "span": s.sid, "table": a["table"], "op": a["op"],
            "snapshot_id": a["snapshot_id"], "rows_applied": a.get("rows_applied"),
            "files_added": len(added), "files_removed": len([p for p in old if p not in new]),
            "rows_written": int(sum(new[p] for p in added)),
            "snapshot_bytes": os.path.getsize(log_file) if os.path.exists(log_file) else 0,
        })

    lookups = {"files_scanned": [], "files_skipped": [], "useful_frac": []}
    li = result.layer_input
    if li.get("lookup_keys"):
        from pyspark.sql import functions as F

        tbl = li["table"]
        n = li["bucket_count"]
        keys = sorted(set(li["lookup_keys"]))
        bucket_of = {
            r["k"]: r["b"]
            for r in ctx.spark.createDataFrame([(k,) for k in keys], "k string")
            .select("k", F.pmod(F.xxhash64("k"), F.lit(n)).cast("int").alias("b"))
            .collect()
        }
        for k in li["lookup_keys"]:
            scanned, skipped = tbl.plan_files(where=[("conv_id", "=", k)])
            useful = sum(1 for fe in scanned if fe.bucket == bucket_of[k])
            lookups["files_scanned"].append(len(scanned))
            lookups["files_skipped"].append(len(skipped))
            lookups["useful_frac"].append(useful / len(scanned) if scanned else 0.0)
    rejected = li["audit"].rejects.read().count() if "audit" in li else 0
    return {"commits": commits, "lookups": lookups, "rows_rejected": rejected}


def layer_metrics(ctx, result, event_dir: str, live: dict) -> tuple[dict, dict]:
    """(result-line metrics, full per-layer breakdown for the trace file)."""
    tracer = ctx.tracer
    groups = parse_event_log(event_dir)
    spans = _timed_spans(tracer)
    by_id = {s.sid: s for s in tracer.spans}

    def named(name):
        return [s for s in spans if s.name == name]

    def jobs(roots) -> JobStats:
        return stats_for(groups, tracer.subtree_ids(roots))

    # replay loop: apply/prepare spans, batch rows from replay_batches' results
    applies = named("replay.apply_batch")
    prepares = named("replay.prepare_batch")
    fences = named("lake.is_fenced")
    wait = 0.0
    for call in named("replay.replay_batches"):
        seq = sorted((s for s in applies if s.parent == call.sid), key=lambda s: s.start)
        wait += sum(b.start - a.end for a, b in zip(seq, seq[1:]))
    batches = [b for call in named("replay.replay_batches")
               for b in call.attrs.get("batches", []) if not b[1]]
    rows_read = sum(b[2] for b in batches)
    rows_valid = sum(b[3] for b in batches)
    rows_applied = sum(b[4] for b in batches)

    # merges the replay loop ran (not the audit store's own upserts)
    merges = [s for s in named("lake.merge_cdc")
              if s.parent in by_id and by_id[s.parent].name == "replay.apply_batch"]
    merge_ids = tracer.subtree_ids(merges)
    merge_commits = [c for c in live["commits"] if c["span"] in merge_ids]
    merge_written = sum(c["rows_written"] for c in merge_commits)
    merge_applied = sum(c["rows_applied"] or 0 for c in merge_commits)
    mj = jobs(merges)

    appends = named("lake.append")
    append_ids = tracer.subtree_ids(appends)
    append_commits = [c for c in live["commits"] if c["span"] in append_ids]

    queries = [s for s in spans if s.name.startswith("query.")]
    qj = jobs(queries)
    timed = [s for s in tracer.spans if s.name == "workload.timed"]
    total = jobs(timed)

    target_commits = merge_commits or live["commits"]
    m = {
        "session.get_spark_s": ctx.session_s,
        "replay.batches": len(applies),
        "replay.prepare_s": _sum_dur(prepares),
        "replay.prepare_wait_s": wait,
        "replay.apply_s": _sum_dur(applies),
        "replay.fence_check_s": _sum_dur(fences),
        "replay.rows_read": rows_read,
        "replay.rows_valid": rows_valid,
        "replay.rows_applied": rows_applied,
        "replay.dedup_ratio": rows_applied / rows_valid if rows_valid else 0.0,
        "merge.s": _sum_dur(merges),
        "merge.rows_written": merge_written,
        "merge.write_amplification": merge_written / merge_applied if merge_applied else 0.0,
        "merge.files_rewritten": sum(c["files_removed"] for c in merge_commits),
        "merge.files_added": sum(c["files_added"] for c in merge_commits),
        "merge.commit_attempts": len([s for s in named("lake.commit") if s.sid in merge_ids]),
        "merge.jobs": mj.jobs,
        "merge.task_s": mj.task_s,
        "merge.shuffle_write_bytes": mj.shuffle_write_bytes,
        "merge.output_bytes": mj.output_bytes,
        "read.plan_s": _sum_dur(named("lake.read")),
        "log.commits": len(named("lake.commit")),
        "log.snapshot_bytes": target_commits[-1]["snapshot_bytes"] if target_commits else 0,
        "query.materialize_s": _sum_dur([s for s in queries if s.parent in {t.sid for t in timed}]),
        "query.op_p50_s": result.info["op_p50_s"],
        "query.jobs": qj.jobs,
        "query.task_s": qj.task_s,
        "query.shuffle_write_bytes": qj.shuffle_write_bytes,
        "spark.jobs": total.jobs,
        "spark.task_s": total.task_s,
        "spark.gc_s": total.gc_s,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes,
        "spark.spill_bytes": total.spill_bytes,
        "process.peak_rss_mb": ctx.peak_rss_mb,
    }
    metrics = {k: {"value": m[k], "unit": u} for k, u in REPORTED.items()}

    # ---- full breakdown for the trace file
    full = dict(m)
    aj = jobs(appends)
    full.update({
        "append.s": _sum_dur(appends),
        "append.jobs": aj.jobs,
        "append.files_added": sum(c["files_added"] for c in append_commits),
        "audit.log_batch_s": _sum_dur(named("audit.log_batch")),
        "audit.run_state_s": _sum_dur(named("audit.run_state")),
        "audit.write_rejects_s": _sum_dur(named("audit.write_rejects")),
        "audit.rows_rejected": live["rows_rejected"],
        "spark.output_bytes": total.output_bytes,
    })
    lk = live["lookups"]
    if lk["files_scanned"]:
        full.update({
            "read.lookups": len(lk["files_scanned"]),
            "read.files_scanned": statistics.mean(lk["files_scanned"]),
            "read.files_skipped": statistics.mean(lk["files_skipped"]),
            "read.files_useful_frac": statistics.mean(lk["useful_frac"]),
        })
    for s in queries:
        if s.name == "query.lookup":
            continue
        q = s.name[len("query."):]
        js = jobs([s])
        full[f"query.{q}_s"] = full.get(f"query.{q}_s", 0.0) + s.dur
        full[f"query.{q}.shuffle_bytes"] = (
            full.get(f"query.{q}.shuffle_bytes", 0) + js.shuffle_write_bytes
        )
    for fam, secs in (result.layer_input.get("families") or {}).items():
        full[f"suite.{fam}_s"] = secs
    # self time per span name: where the timed phase went, layer by layer
    self_time: dict[str, float] = {}
    for s in spans:
        self_time[s.name] = self_time.get(s.name, 0.0) + tracer.self_time(s)
    full["self_s"] = dict(sorted(self_time.items(), key=lambda kv: -kv[1]))
    full["per_batch"] = [
        {"batch_id": b[0], "rows_read": b[2], "rows_valid": b[3], "rows_applied": b[4]}
        for b in batches
    ]
    full["merge_commits"] = merge_commits
    full["lookup_files_scanned"] = lk["files_scanned"]
    return metrics, full

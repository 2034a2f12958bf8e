"""Spans around calls into the engine's layers, and Spark job attribution.

A traced run wraps the engine's action-bearing public calls from outside
(:func:`Tracer.install`) and opens a span for each call. Spans are kept in
memory and written out when the run ends. Each span sets the calling
thread's Spark job group to its span id, so the Spark event log attributes
every job — with its task time, GC time, shuffle, spill and output bytes —
to the innermost span open in the thread that submitted it. Job groups are
thread-local, so the jobs ``replay_batches`` runs from its prefetch thread
land on that thread's ``prepare_batch`` span.

Untraced runs install nothing: the engine runs unmodified.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    thread: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """Span recorder. ``spark`` may be attached after construction (the
    session span opens before the session exists)."""

    def __init__(self) -> None:
        self.spark = None
        self._main = threading.main_thread()
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            if threading.current_thread() is self._main:
                self._main_stack = st
        return st

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None if span is None else f"span-{span.sid}")
        sc.setLocalProperty("spark.job.description", None if span is None else span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is None and threading.current_thread() is not self._main:
            # a helper thread (replay's prefetch) works for whatever the
            # main thread is inside
            main = getattr(self, "_main_stack", None)
            parent = main[-1] if main else None
        with self._lock:
            s = Span(next(self._ids), name, parent.sid if parent else None,
                     threading.current_thread().name, time.perf_counter(),
                     attrs=dict(attrs))
            self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    # -- wrapping the engine's public calls ----------------------------------
    def wrap(self, owner, attr: str, name: str, record=None) -> None:
        """Replace ``owner.attr`` with a spanned call. ``record(span, args,
        result)`` may copy figures from the call onto the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if record is not None:
                    record(s, args, out)
                return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the calls whose spans the per-layer metrics are built from.
        The plan-building functions (``lww_dedup_agg``, ``annotate_errors``,
        ...) are lazy, so only the calls that run Spark actions or commits
        are wrapped."""
        from cdm_data_loader_utils_spark.audit.tables import AuditStore
        from cdm_data_loader_utils_spark.lake.table import LakeTable
        from cdm_data_loader_utils_spark.streaming import replay

        def batches(span, args, results):
            span.attrs["batches"] = [
                [r.batch_id, r.skipped, r.rows_read, r.rows_valid, r.rows_applied]
                for r in results
            ]

        def commit(span, args, sid):
            table, snap = args[0], args[1]
            span.attrs.update(
                table=table.path, snapshot_id=sid, op=snap.get("operation"),
                parent_id=snap.get("parent_id"),
                rows_applied=(snap.get("summary") or {}).get("rows_applied"),
            )

        self.wrap(replay, "replay_batches", "replay.replay_batches", batches)
        self.wrap(replay, "prepare_batch", "replay.prepare_batch")
        self.wrap(replay, "apply_batch", "replay.apply_batch")
        self.wrap(LakeTable, "merge_cdc", "lake.merge_cdc")
        self.wrap(LakeTable, "append", "lake.append")
        self.wrap(LakeTable, "is_fenced", "lake.is_fenced")
        # planning only (snapshot, manifests, file skipping): read() is lazy
        self.wrap(LakeTable, "read", "lake.read")
        # commit attempts, including ones a snapshot race would retry
        self.wrap(LakeTable, "_commit", "lake.commit", commit)
        self.wrap(AuditStore, "log_batch", "audit.log_batch")
        self.wrap(AuditStore, "write_rejects", "audit.write_rejects")
        self.wrap(AuditStore, "start_run", "audit.run_state")
        self.wrap(AuditStore, "complete_run", "audit.run_state")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- queries over the span tree -------------------------------------------
    def subtree_ids(self, roots: list[Span]) -> set[int]:
        """Ids of ``roots`` and every span below them."""
        children: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s.sid)
        out: set[int] = set()
        todo = [r.sid for r in roots]
        while todo:
            sid = todo.pop()
            if sid not in out:
                out.add(sid)
                todo.extend(children.get(sid, ()))
        return out

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover (a child
        running in a helper thread counts only where it overlaps)."""
        iv = sorted(
            (max(c.start, s.start), min(c.end or c.start, s.end or s.start))
            for c in self.spans if c.parent == s.sid
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.dur - covered

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        doc = dict(extra)
        doc["spans"] = [
            {
                "id": s.sid, "name": s.name, "parent": s.parent,
                "thread": s.thread, "start": round(s.start, 6),
                "end": round(s.end or s.start, 6),
                "self_s": round(self.self_time(s), 6), **s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


# ----------------------------------------------------------- Spark event log
@dataclass
class JobStats:
    jobs: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0

    def add(self, o: "JobStats") -> None:
        self.jobs += o.jobs
        self.task_s += o.task_s
        self.gc_s += o.gc_s
        self.shuffle_write_bytes += o.shuffle_write_bytes
        self.spill_bytes += o.spill_bytes
        self.output_bytes += o.output_bytes


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> dict[str | None, JobStats]:
    """Job group id → summed job and task metrics, from the finished event
    log (read after ``spark.stop()`` has flushed it). Jobs outside any span
    are keyed ``None``."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    stage_group: dict[int, str | None] = {}
    per_group: dict[str | None, JobStats] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for st in ev.get("Stage IDs", []):
                        stage_group.setdefault(st, group)
                    per_group.setdefault(group, JobStats()).jobs += 1
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    group = stage_group.get(ev.get("Stage ID"))
                    js = per_group.setdefault(group, JobStats())
                    js.task_s += m.get("Executor Run Time", 0) / 1000.0
                    js.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    js.shuffle_write_bytes += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    js.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    js.output_bytes += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
    return per_group


def stats_for(per_group: dict[str | None, JobStats], span_ids) -> JobStats:
    out = JobStats()
    for sid in span_ids:
        js = per_group.get(f"span-{sid}")
        if js is not None:
            out.add(js)
    return out

"""Property-based test (hypothesis): for ANY event sequence and ANY
micro-batch partitioning, engine replay equals the sequential LWW fold.

Goes beyond the reference's test strategy (no property-based testing there —
SURVEY §5): hypothesis searches for adversarial interleavings (deletes before
inserts, duplicate LSN deliveries across batches, singleton batches) that
hand-written fixtures miss."""

from __future__ import annotations

import os
import uuid

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdm_data_loader_utils_spark.lake.table import LakeTable
from cdm_data_loader_utils_spark.streaming.replay import replay_batches

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("batch_id", T.LongType()),
    ]
)


@st.composite
def event_streams(draw):
    n = draw(st.integers(min_value=1, max_value=50))
    n_batches = draw(st.integers(min_value=1, max_value=5))
    events = []
    for lsn in range(n):
        op = draw(st.sampled_from(["i", "u", "d"]))
        conv = f"c{draw(st.integers(0, 3))}"
        turn = draw(st.integers(0, 3))
        text = None if op == "d" else draw(st.text(min_size=0, max_size=8))
        batch = draw(st.integers(0, n_batches - 1))
        events.append((lsn, op, conv, turn, text, batch))
    # duplicate a random subset verbatim into another batch (re-delivery)
    for idx in draw(st.lists(st.integers(0, n - 1), max_size=5)):
        e = events[idx]
        events.append(e[:5] + (draw(st.integers(0, n_batches - 1)),))
    return events


def python_fold(events):
    state = {}
    for lsn, op, conv, turn, text, _b in sorted(events, key=lambda e: e[0]):
        if op == "d":
            state.pop((conv, turn), None)
        else:
            state[(conv, turn)] = (conv, turn, text, lsn)
    return set(state.values())


@pytest.mark.slow_test
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(event_streams())
def test_replay_equals_fold(spark, tmp_path_factory, events):
    import datetime

    rows = [
        (
            lsn, op, conv, turn, "user", text,
            datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=lsn),
            batch,
        )
        for (lsn, op, conv, turn, text, batch) in events
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7]) for r in rows],
        EVENT_SCHEMA,
    )
    wh = tmp_path_factory.mktemp("prop")
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    table = LakeTable.create(
        spark, os.path.join(str(wh), f"t{uuid.uuid4().hex[:6]}"), schema,
        bucket_by="conv_id", bucket_count=2,
    )
    replay_batches(df, table, None, "prop-run")
    got = {
        (r.conv_id, r.turn_idx, r.text, r.lsn)
        for r in table.read(include_meta=True)
        .filter(~F.coalesce(F.col("__deleted"), F.lit(False)))
        .select("conv_id", "turn_idx", "text", F.col("__lsn").alias("lsn"))
        .collect()
    }
    assert got == python_fold(events)


@settings(max_examples=5, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0, max_size=40,
    )
)
def test_connected_components_equals_union_find(spark, edges):
    """Property: distributed min-label propagation == classic union-find on
    arbitrary random graphs (self-loops and duplicates included)."""
    from cdm_data_loader_utils_spark.operators.dedup import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {v: find(v) for v in parent}

    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.id: r.label for r in connected_components(pairs).collect()}
    assert got == expected


@st.composite
def table_op_sequences(draw):
    """Random interleavings of append / merge-upsert (random lsn) /
    merge-tombstone / physical predicate-delete / LSN-fenced tombstone
    delete / targeted-update / compact against a fresh table. Upsert and
    tombstone-delete LSNs are drawn from overlapping windows so LWW
    decisions go BOTH ways against standing tombstones. Each merge also
    draws its row-count hint: the exact count 1 (a batch this dense skips
    the existence probe) or none (the probe runs as a shuffled
    semi-join), so both merge routes are exercised."""
    ops = []
    n = draw(st.integers(min_value=3, max_value=9))
    next_key = 0
    merged = False  # tombstone deletes need the CDC meta cols a merge adds
    for step in range(n):
        kind = draw(st.sampled_from(
            ["append", "upsert", "tomb", "delete", "tombdel", "update",
             "compact"]))
        if kind == "tombdel" and not merged:
            kind = "delete"
        if kind == "append":
            cnt = draw(st.integers(1, 4))
            ops.append(("append", [(next_key + i, draw(st.integers(0, 99)))
                                   for i in range(cnt)]))
            next_key += cnt
        elif kind in ("upsert", "tomb"):
            if next_key == 0:
                continue
            # lsn windows overlap across steps: a later event may carry a
            # LOWER lsn than a standing tombstone and must lose
            ops.append((kind, draw(st.integers(0, next_key - 1)),
                        draw(st.integers(0, 99)),
                        draw(st.integers(step * 4 + 1, step * 4 + 12)),
                        draw(st.sampled_from([1, None]))))
            merged = True
        elif kind == "delete":
            ops.append(("delete", draw(st.integers(0, 99))))
        elif kind == "tombdel":
            ops.append(("tombdel", draw(st.integers(0, 99)),
                        draw(st.integers(step * 4 + 1, step * 4 + 12))))
        elif kind == "update":
            ops.append(("update", draw(st.integers(0, 99))))
        else:
            ops.append(("compact",))
    return ops


@pytest.mark.slow_test
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(table_op_sequences())
# pinned so both probe routes run on every pass, whatever the draws: each
# hint (None, then 1) merges into keys that exist, incl. a tombstone that a
# later lower-lsn upsert must not resurrect
@example([("append", [(0, 10), (1, 20), (2, 30)]),
          ("upsert", 0, 11, 5, None), ("tomb", 1, 0, 6, 1),
          ("upsert", 1, 21, 4, None), ("upsert", 2, 31, 7, 1)])
def test_row_ops_equal_python_model(spark, tmp_path_factory, ops):
    """For ANY interleaving of appends, CDC merges (upsert + tombstone,
    RANDOM overlapping LSNs), physical predicate DELETEs, LSN-fenced
    tombstone deletes, targeted UPDATEs and compactions, the table's live
    state equals a sequential Python fold — including every LWW decision
    against standing tombstones (merge ties: target wins, ``s_lsn >
    t_lsn`` strict) and the tombstone-delete clamp
    (``__lsn = max(row lsn, tombstone_lsn)``)."""
    import warnings

    schema = T.StructType([
        T.StructField("k", T.IntegerType()),
        T.StructField("v", T.IntegerType()),
    ])
    src_schema = T.StructType(list(schema.fields) + [
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
    ])
    wh = tmp_path_factory.mktemp("rowops")
    t = LakeTable.create(
        spark, os.path.join(str(wh), f"t{uuid.uuid4().hex[:6]}"), schema,
        bucket_by="k", bucket_count=2,
    )
    live: dict[int, tuple[int, int | None]] = {}  # key -> (val, lsn|None)
    tomb: dict[int, int] = {}                     # key -> tombstone lsn

    def wins(incoming: int, standing: int | None) -> bool:
        return standing is None or incoming > standing

    for op in ops:
        if op[0] == "append":
            rows = op[1]
            t.append(spark.createDataFrame(rows, schema))
            live.update({k: (v, None) for k, v in rows})  # fresh keys only
        elif op[0] in ("upsert", "tomb"):
            _, key, val, lsn, hint = op
            kind = "i" if op[0] == "upsert" else "d"
            t.merge_cdc(
                spark.createDataFrame(
                    [(key, None if kind == "d" else val, kind, lsn)],
                    src_schema),
                key_cols=["k"], incoming_rows=hint)
            standing = (
                live[key][1] if key in live
                else tomb.get(key)  # None → unmatched → source inserts
            )
            if wins(lsn, standing):
                if kind == "d":
                    live.pop(key, None)
                    tomb[key] = lsn
                else:
                    live[key] = (val, lsn)
                    tomb.pop(key, None)
        elif op[0] == "delete":
            cut = op[1]
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                t.delete(F.col("v") >= cut, where=[("v", ">=", cut)])
            # physical: matched rows vanish, NO lsn fence left behind
            live = {k: s for k, s in live.items() if s[0] < cut}
        elif op[0] == "tombdel":
            _, cut, chosen = op
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                t.delete(F.col("v") >= cut, where=[("v", ">=", cut)],
                         tombstone_lsn=chosen)
            for k in [k for k, (v, _) in live.items() if v >= cut]:
                row_lsn = live.pop(k)[1]
                tomb[k] = chosen if row_lsn is None else max(row_lsn, chosen)
        elif op[0] == "update":
            cut = op[1]
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                t.update(F.col("v") < cut, {"v": F.col("v") + 1000})
            live = {
                k: ((v + 1000, l) if v < cut else (v, l))
                for k, (v, l) in live.items()
            }
        else:
            t.compact(target_files_per_bucket=1)
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {(k, v) for k, (v, _) in live.items()}, (ops, got, live)

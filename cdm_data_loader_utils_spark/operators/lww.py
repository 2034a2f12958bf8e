"""Last-writer-wins deduplication (the W1 window operator).

Reference: the only window function in cdm-data-loader-utils —
``row_number().over(Window.partitionBy("cdm_id").orderBy(...))`` then keep
rank 1 (``/root/reference/src/cdm_data_loader_utils/parsers/refseq_pipeline/
core/spark_delta.py:129-139`` inside ``cleanup_after_write``). The reference
runs it as a post-write whole-table rewrite; we run it per micro-batch before
MERGE, which at 10^10 events is the difference between O(batch) and O(table)
work per commit.

Total ordering: ``(lsn desc, ts desc, op desc)`` — a deterministic tie-break
chain (the reference tie-breaks with a third key too, ``core/spark_delta.py:
133-136``) so replays at different parallelism levels converge identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str] = ("lsn", "ts"),
    extra_tiebreak: str | None = "op",
) -> DataFrame:
    """Keep exactly the last writer per key under a total order.

    For CDC this is fold-equivalent: replaying i/u/d events in LSN order and
    keeping the final state per key equals keeping only the max-LSN event per
    key (an 'i'/'u' survivor is the final value; a 'd' survivor is a delete).
    """
    order = [F.col(c).desc_nulls_last() for c in order_cols]
    if extra_tiebreak:
        order.append(F.col(extra_tiebreak).desc_nulls_last())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def lww_dedup_agg(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str] = ("lsn", "ts"),
    extra_tiebreak: str | None = "op",
) -> DataFrame:
    """LWW dedup as a hash aggregate: ``max_by(payload, (lsn, ts, op))``.

    Semantically identical to :func:`lww_dedup` but avoids the per-key SORT
    of the window exec: Catalyst plans a partial (map-side) aggregate before
    the shuffle, so duplicate/hot keys collapse on the map side and only one
    candidate row per (key, input-partition) crosses the wire. This makes
    hot-conversation skew a non-event for dedup — the reduce side sees at
    most ``num_input_partitions`` rows per key — which is why the replay
    path uses this form; the window form stays as an independent oracle
    (``sources.events.expected_final_state``)."""
    order = list(order_cols) + ([extra_tiebreak] if extra_tiebreak else [])
    payload = F.struct(*[F.col(c) for c in df.columns])
    ord_struct = F.struct(*[F.col(c) for c in order])
    return (
        df.groupBy(*key_cols)
        .agg(F.max_by(payload, ord_struct).alias("__r"))
        .select("__r.*")
    )


"""Query catalog: one named query per implemented operator (SURVEY §2),
each paired with an ANSI-SQL oracle (DuckDB) in ``ORACLE_SQL``.

Column-name discipline: every computed column is aliased identically in the
Spark plan and the SQL so the driver's sorted-column value-hash comparison
holds. Doubles are rounded; timestamps are projected to epoch seconds;
raw double→string casts are avoided everywhere.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup as D
from .operators import similarity as S
from .operators import snapshot_diff as SD
from .operators import text_analysis as TA
from .operators.validation import annotate_errors
from .schemas import ROW_ERRORS_COL


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# events → change-event envelope (deterministic mapping shared by the LWW
# and full-replay queries and their oracles)
# --------------------------------------------------------------------------
def events_as_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("d"))
        .when(F.col("event_type").isin("view", "click"), F.lit("u"))
        .otherwise(F.lit("i"))
        .alias("op"),
        F.format_string("conv-%05d", F.pmod(F.col("user_id"), F.lit(100))).alias("conv_id"),
        F.pmod(F.col("event_id"), F.lit(20)).cast("int").alias("turn_idx"),
        F.col("props").alias("text"),
        # events.parquet carries TIMESTAMP_NTZ; session TZ is UTC so this
        # cast is exact and matches DuckDB's epoch()
        F.col("ts").cast("timestamp").alias("ts"),
    )


_CHANGES_SQL = """
  SELECT event_id AS lsn,
         CASE WHEN event_type = 'error' THEN 'd'
              WHEN event_type IN ('view','click') THEN 'u'
              ELSE 'i' END AS op,
         printf('conv-%05d', user_id % 100) AS conv_id,
         CAST(event_id % 20 AS INT) AS turn_idx,
         props AS text,
         ts
  FROM events
"""


def q_lww_latest_turn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 flagship: last-writer-wins per (conv_id, turn_idx), deletes drop.

    Reference: core/spark_delta.py:129-139 window dedup. Since r7 this uses
    the ``max_by`` hash-aggregate form the replay path already runs
    (``lww_dedup_agg``): one exchange with map-side partial aggregation
    instead of exchange+sort+window, and hot keys collapse before the
    shuffle. Result-identical to the window form here because ``lsn`` is
    globally unique (the total order has no ties); verified row-for-row
    against the window form at sf0.1 and against the oracle at the gate
    SFs. The window form stays available as ``lww_dedup``."""
    from .operators.lww import lww_dedup_agg

    ch = events_as_changes(spark, sf_dir)
    last = lww_dedup_agg(ch, ["conv_id", "turn_idx"], ["lsn", "ts"],
                         extra_tiebreak=None)
    return last.filter(F.col("op") != "d").select(
        "conv_id", "turn_idx", "text", F.col("lsn").alias("last_lsn")
    )


def q_cdc_replay_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end: change events → 4 out-of-order micro-batches →
    exactly-once MERGE into a bucketed lake table → final state.

    The oracle is the pure-SQL global LWW fold — equality proves the whole
    engine (dedup, tombstones, fencing, copy-on-write merge) converges to
    the declarative semantics."""
    from .lake.table import LakeTable
    from .schemas import TRANSCRIPT_SCHEMA_V0
    from .streaming.replay import replay_batches

    ch = events_as_changes(spark, sf_dir).withColumn(
        "batch_id", F.pmod(F.col("lsn"), F.lit(4)).cast("long")
    )
    # the returned DataFrame lazily reads the table files, so the dir must
    # outlive this call — register cleanup at interpreter exit instead of
    # leaking one table copy per invocation
    import atexit
    import shutil

    tmp = tempfile.mkdtemp(prefix="replay_entry_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    table = LakeTable.create(
        spark, os.path.join(tmp, "transcripts"), schema,
        bucket_by="conv_id", bucket_count=8,
    )
    replay_batches(ch, table, None, "entry-run")
    return (
        table.read()
        .select("conv_id", "turn_idx", "text", F.unix_micros("ts").alias("ts_us"))
        .orderBy("conv_id", "turn_idx")
    )


_LWW_ORACLE = f"""
WITH ev AS ({_CHANGES_SQL}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY lsn DESC, ts DESC) AS rn
  FROM ev
)
SELECT conv_id, turn_idx, text, lsn AS last_lsn
FROM ranked WHERE rn = 1 AND op <> 'd'
"""

_REPLAY_ORACLE = f"""
WITH ev AS ({_CHANGES_SQL}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY lsn DESC, ts DESC) AS rn
  FROM ev
)
SELECT conv_id, turn_idx, text, epoch_us(ts) AS ts_us
FROM ranked WHERE rn = 1 AND op <> 'd'
ORDER BY conv_id, turn_idx
"""


# --------------------------------------------------------------------------
# lake read path: stats-based file skipping + the spark.sql view bridge
# --------------------------------------------------------------------------
_DOCS_LAKE_CACHE: dict[str, object] = {}


def _docs_lake_table(spark: SparkSession, sf_dir: str):
    """One clustered lake copy of ``documents`` per (process, sf_dir):
    bucketed by doc_id, compacted with ``zorder_by=["n_chars", "doc_id"]``
    (interleaved-bit Morton clustering) so per-file min/max ranges are
    tight in BOTH dimensions — the layout multi-column stats skipping
    needs (reference analogue: Delta stats + OPTIMIZE ZORDER,
    ``parsers/refseq_pipeline/core/spark_delta.py:144-150``)."""
    t = _DOCS_LAKE_CACHE.get(sf_dir)
    if t is not None:
        return t
    import atexit
    import shutil

    from .lake.table import LakeTable

    tmp = tempfile.mkdtemp(prefix="lake_docs_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    docs = load(spark, sf_dir, "documents")
    table = LakeTable.create(
        spark, os.path.join(tmp, "documents"), docs.schema,
        bucket_by="doc_id", bucket_count=4,
    )
    table.append(docs)
    table.compact(zorder_by=["n_chars", "doc_id"], target_files_per_bucket=4)
    _DOCS_LAKE_CACHE[sf_dir] = table
    return table


def q_lake_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-based data skipping on the lake read path: per-file min/max
    (collected in the commit's metadata job) prune files whose range cannot
    satisfy the predicate, and the surviving files are filtered. The table
    is Z-ORDER clustered on (n_chars, doc_id), so this two-dimensional
    predicate prunes on BOTH columns — result must equal the plain SQL
    filter over the same rows regardless of layout."""
    table = _docs_lake_table(spark, sf_dir)
    return table.read(
        where=[("n_chars", ">=", 400), ("doc_id", "<", 300)]
    ).select("doc_id", "lang", "n_chars")


_LAKE_PRUNED_ORACLE = (
    "SELECT doc_id, lang, n_chars FROM documents "
    "WHERE n_chars >= 400 AND doc_id < 300"
)


def q_lake_sql_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog→SQL bridge: the lake table registered as a session-catalog
    view and queried by NAME through plain ``spark.sql`` (reference parity:
    ``register_table_and_view``, ``parsers/gene_association_file.py:
    225-242``)."""
    table = _docs_lake_table(spark, sf_dir)
    ident = table.to_view("lake.docs")
    return spark.sql(
        f"SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars "
        f"FROM {ident} WHERE n_chars >= 200 GROUP BY lang"
    )


_LAKE_VIEW_ORACLE = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE n_chars >= 200 GROUP BY lang
"""


def _fresh_lake(spark, sf_dir: str, key: str, build):
    """Build-once cache for mutation-bearing lake gate tables (each query
    owns its table so UPDATE / evolution / time travel don't interfere)."""
    cache_key = f"{key}:{sf_dir}"
    t = _DOCS_LAKE_CACHE.get(cache_key)
    if t is None:
        import atexit
        import shutil

        tmp = tempfile.mkdtemp(prefix=f"lake_{key}_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        t = build(os.path.join(tmp, key))
        _DOCS_LAKE_CACHE[cache_key] = t
    return t


def q_lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6 time travel, gated directly: two appends (even doc_ids, then
    odd), read back the FIRST snapshot — must equal the even half even
    though the current state holds everything."""
    from .lake.table import LakeTable

    def build(path):
        docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
        t = LakeTable.create(spark, path, docs.schema,
                             bucket_by="doc_id", bucket_count=4)
        t.append(docs.filter(F.col("doc_id") % 2 == 0))
        t.first_snapshot_id = t.snapshot_id  # pinned for the travel read
        t.append(docs.filter(F.col("doc_id") % 2 == 1))
        return t

    t = _fresh_lake(spark, sf_dir, "travel", build)
    return t.read(snapshot_id=t.first_snapshot_id).select(
        "doc_id", "lang", "n_chars"
    )


_LAKE_TRAVEL_ORACLE = (
    "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0"
)


def q_lake_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 targeted copy-on-write UPDATE, gated directly: set lang='xx' where
    n_chars > 400 (only files containing matches rewrite), read the table."""
    from .lake.table import LakeTable

    def build(path):
        docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
        t = LakeTable.create(spark, path, docs.schema,
                             bucket_by="doc_id", bucket_count=4)
        t.append(docs)
        t.update(F.col("n_chars") > 400, {"lang": F.lit("xx")})
        return t

    t = _fresh_lake(spark, sf_dir, "update", build)
    return t.read().select("doc_id", "lang", "n_chars")


_LAKE_UPDATE_ORACLE = """
SELECT doc_id,
       CASE WHEN n_chars > 400 THEN 'xx' ELSE lang END AS lang,
       n_chars
FROM documents
"""


def q_lake_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level copy-on-write DELETE, gated directly: remove docs with
    n_chars > 400 (stats-pruned via the `where` hint — only files whose
    min/max admit a match are probed), read the surviving table."""
    from .lake.table import LakeTable

    def build(path):
        docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
        t = LakeTable.create(spark, path, docs.schema,
                             bucket_by="doc_id", bucket_count=4)
        t.append(docs)
        t.delete(F.col("n_chars") > 400, where=[("n_chars", ">", 400)])
        return t

    t = _fresh_lake(spark, sf_dir, "delete", build)
    return t.read().select("doc_id", "lang", "n_chars")


# SQL DELETE keeps condition-FALSE and condition-NULL rows
_LAKE_DELETE_ORACLE = """
SELECT doc_id, lang, n_chars FROM documents
WHERE n_chars <= 400 OR n_chars IS NULL
"""


def q_lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/P2 schema evolution on append, gated directly: the second append
    carries a NEW column (n_chars); rows written before the evolution read
    back with typed nulls."""
    from .lake.table import LakeTable

    def build(path):
        docs = load(spark, sf_dir, "documents")
        narrow = docs.select("doc_id", "lang").filter(F.col("doc_id") % 2 == 0)
        t = LakeTable.create(spark, path, narrow.schema,
                             bucket_by="doc_id", bucket_count=4)
        t.append(narrow)
        t.append(
            docs.select("doc_id", "lang", "n_chars")
            .filter(F.col("doc_id") % 2 == 1)
        )
        return t

    t = _fresh_lake(spark, sf_dir, "evolve", build)
    # typed-null fill proven via a sentinel: nullable BIGINT degrades to
    # float NaN through pandas in the gate harness, so both sides coalesce
    return t.read().select(
        "doc_id", "lang",
        F.coalesce(F.col("n_chars"), F.lit(-1)).alias("n_chars"),
    )


_LAKE_EVOLVE_ORACLE = """
SELECT doc_id, lang,
       coalesce(CASE WHEN doc_id % 2 = 1 THEN n_chars END, -1) AS n_chars
FROM documents
"""


_STREAM_INGEST_CACHE: dict[str, DataFrame] = {}


def q_lake_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.readStream.format("lake")`` gated end-to-end: the documents
    table lands in a lake table as three append commits with a compaction
    in between (row-preserving — must be invisible to the stream), then the
    Python DataSource streaming source consumes the snapshot log (offsets =
    snapshot ids, one Arrow-batch partition per added file),
    ``processAllAvailable`` drains it exactly-once into a memory sink, and
    the streamed rows aggregate to the same answer as the parquet source.
    Reference parity: Delta-as-streaming-source ingestion (the reference's
    importers tail Delta tables; this is the engine-native equivalent)."""
    got = _STREAM_INGEST_CACHE.get(sf_dir)
    if got is None:
        import atexit
        import shutil

        from .lake.table import LakeTable
        from .streaming.lake_source import register_lake_source

        register_lake_source(spark)
        tmp = tempfile.mkdtemp(prefix="lake_stream_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        docs = load(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable.create(spark, os.path.join(tmp, "docs"), docs.schema,
                             bucket_by="doc_id", bucket_count=4)
        t.append(docs.filter(F.col("doc_id") % 3 == 0))
        t.append(docs.filter(F.col("doc_id") % 3 == 1))
        t.compact()  # rewrites streamed rows; the stream must skip it
        t.append(docs.filter(F.col("doc_id") % 3 == 2))
        sink = "lake_stream_ingest_sink"
        q = (
            spark.readStream.format("lake").load(t.path)
            .writeStream.format("memory").queryName(sink)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = _STREAM_INGEST_CACHE[sf_dir] = spark.table(sink)
    return got.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


_STREAM_INGEST_ORACLE = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


# --------------------------------------------------------------------------
# record sources round-tripped against the documents table (S1 / S8 / S9):
# deterministic text/XML/FASTA files are generated FROM documents.parquet,
# read back through the real source readers, and must reproduce the table —
# closing the gate on the segmentation/corrupt-capture logic itself.
# --------------------------------------------------------------------------
_SOURCE_FILE_CACHE: dict[str, str] = {}


def _docs_pdf(sf_dir: str):
    import pandas as pd

    return (
        pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def _source_file(sf_dir: str, kind: str, render) -> str:
    """Write (once per process) a deterministic source file derived from the
    documents table; returns its path."""
    key = f"{kind}:{sf_dir}"
    p = _SOURCE_FILE_CACHE.get(key)
    if p is None:
        import atexit
        import shutil

        tmp = tempfile.mkdtemp(prefix=f"src_{kind}_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        p = os.path.join(tmp, f"docs.{kind}")
        with open(p, "w") as f:
            f.write(render(_docs_pdf(sf_dir)))
        _SOURCE_FILE_CACHE[key] = p
    return p


def q_dsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: PERMISSIVE DSV read + corrupt-record capture. The generated TSV
    carries every documents row plus two malformed lines; the clean split
    must reproduce the table exactly (corrupt rows captured, not leaked)."""
    from pyspark.sql import types as T

    from .sources.dsv import read_dsv, split_corrupt

    def render(pdf):
        lines = [
            f"{r.doc_id}\t{r.lang}\t{r.n_chars}" for r in pdf.itertuples()
        ]
        lines.insert(3, "corrupt-line-without-tabs")
        lines.append("also\tbad\tnot-a-number")
        return "\n".join(lines) + "\n"

    path = _source_file(sf_dir, "tsv", render)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    df = read_dsv(spark, path, schema=schema, delimiter="\t")
    clean, _corrupt = split_corrupt(df)
    return clean.select("doc_id", "lang", "n_chars")


_DSV_ROUNDTRIP_ORACLE = "SELECT doc_id, lang, n_chars FROM documents"


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: tag-based streaming XML segmentation (nested two levels below
    root). Attributes are re-extracted from each serialized record element;
    the result must reproduce the documents table."""
    from .sources.records import read_xml_records

    def render(pdf):
        rows = "".join(
            f'<doc id="{r.doc_id}" lang="{r.lang}" n="{r.n_chars}"/>'
            for r in pdf.itertuples()
        )
        return f"<root><meta>x</meta><batch>{rows}</batch></root>"

    path = _source_file(sf_dir, "xml", render)
    recs = read_xml_records(spark, path, tag="doc").filter(
        F.col("error").isNull()
    )
    return recs.select(
        F.regexp_extract("xml", r'id="(\d+)"', 1).cast("long").alias("doc_id"),
        F.regexp_extract("xml", r'lang="([^"]*)"', 1).alias("lang"),
        F.regexp_extract("xml", r'n="(\d+)"', 1).cast("long").alias("n_chars"),
    )


_XML_ROUNDTRIP_ORACLE = "SELECT doc_id, lang, n_chars FROM documents"


def q_fasta_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: FASTA-style delimited-record segmentation. Headers carry
    (doc_id, lang); bodies are n_chars%50+1 bases over two lines — the
    reader must reassemble multi-line bodies exactly."""
    from .sources.records import read_delimited_records

    def render(pdf):
        out = []
        for r in pdf.itertuples():
            n = int(r.n_chars) % 50 + 1
            body = "A" * n
            # split the body over two lines to exercise reassembly
            out.append(f">{r.doc_id} {r.lang}\n{body[: n // 2]}\n{body[n // 2:]}")
        return "\n".join(out) + "\n"

    path = _source_file(sf_dir, "fa", render)
    recs = read_delimited_records(spark, path).filter(F.col("error").isNull())
    return recs.select(
        F.split("header", " ")[0].cast("long").alias("doc_id"),
        F.split("header", " ")[1].alias("lang"),
        F.length(F.regexp_replace("body", "\n", "")).alias("body_len"),
    )


_FASTA_ROUNDTRIP_ORACLE = (
    "SELECT doc_id, lang, CAST(n_chars % 50 + 1 AS INTEGER) AS body_len "
    "FROM documents"
)


# --------------------------------------------------------------------------
# snapshot diff family (J1-J4, P6)
# --------------------------------------------------------------------------
def _halves(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    old = ev.filter(F.pmod("event_id", F.lit(2)) == 0).groupBy("user_id").agg(
        F.round(F.max("value"), 6).alias("sha")
    )
    new = ev.filter(F.pmod("event_id", F.lit(2)) == 1).groupBy("user_id").agg(
        F.round(F.max("value"), 6).alias("sha")
    )
    return old, new


_HALVES_SQL = """
old AS (SELECT user_id, round(max(value), 6) AS sha FROM events WHERE event_id % 2 = 0 GROUP BY user_id),
new AS (SELECT user_id, round(max(value), 6) AS sha FROM events WHERE event_id % 2 = 1 GROUP BY user_id)
"""


def q_snapshot_diff_classify(spark, sf_dir):
    """J2: full-outer join + 4-way change_type ladder
    (core/snapshot_utils.py:37-61)."""
    old, new = _halves(spark, sf_dir)
    return SD.classify_changes(old, new, ["user_id"], ["sha"]).select(
        "user_id", "change_type"
    )


def q_changed_keys(spark, sf_dir):
    """J1/J3: keys that are new or updated (core/snapshot_utils.py:59-61)."""
    old, new = _halves(spark, sf_dir)
    diffed = SD.classify_changes(old, new, ["user_id"], ["sha"])
    return SD.changed_keys(diffed, ["user_id"])


def q_new_only_keys(spark, sf_dir):
    """J4 left-anti (core/snapshot_utils.py:16-23)."""
    old, new = _halves(spark, sf_dir)
    return SD.new_only(old, new, ["user_id"])


def q_removed_only_keys(spark, sf_dir):
    old, new = _halves(spark, sf_dir)
    return SD.removed_only(old, new, ["user_id"])


_DIFF_CLASSIFY_ORACLE = f"""
WITH {_HALVES_SQL}
SELECT COALESCE(old.user_id, new.user_id) AS user_id,
       CASE WHEN old.user_id IS NULL THEN 'new'
            WHEN new.user_id IS NULL THEN 'deleted'
            WHEN old.sha IS DISTINCT FROM new.sha THEN 'updated'
            ELSE 'unchanged' END AS change_type
FROM old FULL OUTER JOIN new ON old.user_id = new.user_id
"""

_CHANGED_KEYS_ORACLE = f"""
WITH {_HALVES_SQL}
SELECT DISTINCT COALESCE(new.user_id) AS user_id
FROM new LEFT JOIN old ON old.user_id = new.user_id
WHERE old.user_id IS NULL OR old.sha IS DISTINCT FROM new.sha
"""

_NEW_ONLY_ORACLE = f"""
WITH {_HALVES_SQL}
SELECT DISTINCT new.user_id FROM new
LEFT JOIN old ON old.user_id = new.user_id WHERE old.user_id IS NULL
"""

_REMOVED_ONLY_ORACLE = f"""
WITH {_HALVES_SQL}
SELECT DISTINCT old.user_id FROM old
LEFT JOIN new ON old.user_id = new.user_id WHERE new.user_id IS NULL
"""


# --------------------------------------------------------------------------
# aggregations / sorts / sets (A1-A4, O1, U1)
# --------------------------------------------------------------------------
def q_conditional_agg_metrics(spark, sf_dir):
    """A1: count + conditional sums (audit/metrics.py:60-65)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(F.col("value") > 50.0, 1).otherwise(0)).cast("long").alias("n_high"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_distinct_projection(spark, sf_dir):
    """A2 (core/hashes_diff.py:51,80)."""
    return load(spark, sf_dir, "events").select("user_id", "event_type").distinct()


def q_collect_sorted_reasons(spark, sf_dir):
    """A4: distinct-collect of per-key reasons, sorted in-engine
    (audit/metrics.py:55-58) — emitted as a joined string for portability."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws("|", F.sort_array(F.collect_set("event_type"))).alias("types")
    )


def q_latest_two_events(spark, sf_dir):
    """O1: orderBy desc + limit 2 (core/hashes_diff.py:51 tail(2)).

    Oracle-checked in pytest (tests/test_queries_oracle.py) rather than the
    driver gate: the gate records at most 50 queries, and O1's
    orderBy+limit plan shape is already gated by ``cosine_topk`` — this
    slot went to ``lake_stream_ingest`` in round 6."""
    ev = load(spark, sf_dir, "events")
    return ev.orderBy(F.col("ts").desc(), F.col("event_id").desc()).limit(2).select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )


def q_union_fold(spark, sf_dir):
    """U1: unionByName fold of per-slice frames
    (refseq_importer/core/tables_finalize.py:34-64)."""
    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id", "value")
    b = ev.filter(F.col("event_type") == "click").select("user_id", "value")
    return (
        a.unionByName(b)
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


_COND_AGG_ORACLE = """
SELECT event_type,
       count(*) AS cnt,
       CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       round(sum(value), 4) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""

_DISTINCT_ORACLE = "SELECT DISTINCT user_id, event_type FROM events"

_COLLECT_ORACLE = """
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), '|') AS types
FROM events GROUP BY user_id
"""

_LATEST2_ORACLE = """
SELECT event_id, epoch_us(ts) AS ts_us
FROM events ORDER BY ts DESC, event_id DESC LIMIT 2
"""

_UNION_ORACLE = """
SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS sum_value
FROM (
  SELECT user_id, value FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, value FROM events WHERE event_type = 'click'
) GROUP BY user_id
"""


# --------------------------------------------------------------------------
# projections / scalar functions (P6-P17)
# --------------------------------------------------------------------------
def q_when_classifier(spark, sf_dir):
    """P6 when/otherwise ladder (core/snapshot_utils.py:51-58 pattern)."""
    o = load(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") >= 200000, F.lit("platinum"))
        .when(F.col("o_totalprice") >= 100000, F.lit("gold"))
        .when(F.col("o_totalprice") >= 50000, F.lit("silver"))
        .otherwise(F.lit("bronze"))
    )
    return o.groupBy(tier.alias("tier")).agg(
        F.count("*").alias("cnt"), F.round(F.avg("o_totalprice"), 4).alias("avg_price")
    )


def q_string_normalization(spark, sf_dir):
    """P7: split/trim/upper/regexp_replace/concat_ws
    (parsers/gene_association_file.py:113-133)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper(F.trim("c_name")).alias("name_upper"),
        F.regexp_replace("c_mktsegment", "[AEIOU]", "_").alias("seg_masked"),
        F.concat_ws("::", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("seg_key"),
        F.split(F.col("c_name"), "#").getItem(0).alias("name_prefix"),
    )


def q_json_extraction(spark, sf_dir):
    """P17/P16: get_json_object + safe numeric coercion
    (core/cdm_parse.py:15-51)."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.max(k).alias("max_k")
    )


def q_sha_fingerprints(spark, sf_dir):
    """P14: distributed sha256 content hash (core/refseq_io.py:216-221)."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", TA.fingerprint("text").alias("fp"))


def q_explode_tokens(spark, sf_dir):
    """P9: explode array→rows (gene_association_file.py:165)."""
    d = load(spark, sf_dir, "documents")
    w = d.select(F.explode(D.tokens("text")).alias("word"))
    return (
        w.filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def q_higher_order_filter(spark, sf_dir):
    """P10: array construction + HOF filter
    (validation/df_nullable_fields.py:33-60)."""
    d = load(spark, sf_dir, "documents")
    toks = D.tokens("text")
    return d.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).alias("n_long_words"),
        F.size(toks).alias("n_words"),
    )


def q_validation_errors(spark, sf_dir):
    """Validation split: error-array annotation, counted per type."""
    ev = load(spark, sf_dir, "events")
    checks = {
        "neg_value": F.col("value") >= 0,
        "bad_type": F.col("event_type").isin("view", "click", "purchase", "signup", "error"),
        "null_user": F.col("user_id").isNotNull(),
    }
    ann = annotate_errors(ev, checks)
    return ann.agg(
        F.count("*").alias("rows_read"),
        F.sum((F.size(ROW_ERRORS_COL) == 0).cast("long")).alias("rows_valid"),
        F.sum(F.size(ROW_ERRORS_COL).cast("long")).alias("total_errors"),
    )


_WHEN_ORACLE = """
SELECT CASE WHEN o_totalprice >= 200000 THEN 'platinum'
            WHEN o_totalprice >= 100000 THEN 'gold'
            WHEN o_totalprice >= 50000 THEN 'silver'
            ELSE 'bronze' END AS tier,
       count(*) AS cnt, round(avg(o_totalprice), 4) AS avg_price
FROM orders GROUP BY 1
"""

_STRINGS_ORACLE = """
SELECT c_custkey,
       upper(trim(c_name)) AS name_upper,
       regexp_replace(c_mktsegment, '[AEIOU]', '_', 'g') AS seg_masked,
       concat_ws('::', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_key,
       string_split(c_name, '#')[1] AS name_prefix
FROM customer
"""

_JSON_ORACLE = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""

# mirrors operators.dedup.normalize_text exactly: Unicode letter/digit
# classes (Java regex and DuckDB's RE2 agree on \p{L}/\p{N}) plus the
# all-stripped fallback to trimmed lowercase raw text
_NORM_SQL = (
    "CASE WHEN length(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g'))) = 0 "
    "THEN lower(trim(text)) "
    "ELSE trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g')) END"
)


def _sw_ratio_sql(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        f"CASE WHEN len(string_split({_NORM_SQL}, ' ')) > 0 "
        f"THEN CAST(len(list_filter(string_split({_NORM_SQL}, ' '), "
        f"x -> x IN ({lst}))) AS DOUBLE) / len(string_split({_NORM_SQL}, ' ')) "
        f"ELSE 0.0 END"
    )


# stopword lists mirror operators/text_analysis.py::STOPWORDS exactly
_SW = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "es", "por"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "que", "les", "des"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
}

_SHA_ORACLE = f"SELECT doc_id, sha256({_NORM_SQL}) AS fp FROM documents"

_EXPLODE_ORACLE = f"""
SELECT word, count(*) AS cnt FROM (
  SELECT unnest(string_split({_NORM_SQL}, ' ')) AS word FROM documents
) WHERE word <> '' GROUP BY word
"""

_HOF_ORACLE = f"""
SELECT doc_id,
       len(list_filter(string_split({_NORM_SQL}, ' '), x -> len(x) > 4)) AS n_long_words,
       len(string_split({_NORM_SQL}, ' ')) AS n_words
FROM documents
"""

_VALIDATION_ORACLE = """
SELECT count(*) AS rows_read,
       CAST(sum(CASE WHEN value >= 0
                 AND event_type IN ('view','click','purchase','signup','error')
                 AND user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS rows_valid,
       CAST(sum(CASE WHEN value >= 0 THEN 0 ELSE 1 END
         + CASE WHEN event_type IN ('view','click','purchase','signup','error') THEN 0 ELSE 1 END
         + CASE WHEN user_id IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS total_errors
FROM events
"""


# --------------------------------------------------------------------------
# joins (J5/J6 + TPC-H-ish)
# --------------------------------------------------------------------------
def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary (A1 family at scale)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_broadcast_dim_join(spark, sf_dir):
    """J5/J6: fact ⋈ small dims with explicit broadcast
    (gene_association_file.py:172-194 evidence joins)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("p_brand", "s_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_region_rollup(spark, sf_dir):
    """Multiway dim chain customer⋈nation⋈region⋈orders."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    o = load(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q_left_join_fallback(spark, sf_dir):
    """J6 + P13: left join with coalesce fallback
    (gene_association_file.py:184-194)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .select(
            "o_orderkey",
            F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
        )
        .groupBy("segment")
        .agg(F.count("*").alias("n_orders"))
    )


def q_composite_outer_join(spark, sf_dir):
    """J1: full-outer on a composite key + null/≠ filter
    (core/hashes_diff.py:74-80)."""
    li = load(spark, sf_dir, "lineitem")
    a = li.filter(F.pmod("l_suppkey", F.lit(2)) == 0).groupBy(
        "l_partkey", "l_returnflag"
    ).agg(F.round(F.sum("l_quantity"), 4).alias("qty_a"))
    b = li.filter(F.pmod("l_suppkey", F.lit(2)) == 1).groupBy(
        "l_partkey", "l_returnflag"
    ).agg(F.round(F.sum("l_quantity"), 4).alias("qty_b"))
    j = a.join(b, ["l_partkey", "l_returnflag"], "full_outer")
    return j.filter(
        F.col("qty_a").isNull()
        | F.col("qty_b").isNull()
        | (F.col("qty_a") != F.col("qty_b"))
    ).select(
        "l_partkey",
        "l_returnflag",
        # missing side → -1.0 sentinel (keeps null/NaN canonicalization out
        # of the cross-engine comparison)
        F.coalesce("qty_a", F.lit(-1.0)).alias("qty_a"),
        F.coalesce("qty_b", F.lit(-1.0)).alias("qty_b"),
    )


_PRICING_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""

_BROADCAST_ORACLE = """
SELECT p_brand, s_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY p_brand, s_name
"""

_REGION_ORACLE = """
SELECT r_name, round(sum(o_totalprice), 4) AS revenue, count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

_LEFTJOIN_ORACLE = """
SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment, count(*) AS n_orders
FROM orders
LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
  ON o_custkey = c_custkey
GROUP BY 1
"""

_COMPOSITE_ORACLE = """
WITH a AS (
  SELECT l_partkey, l_returnflag, round(sum(l_quantity), 4) AS qty_a
  FROM lineitem WHERE l_suppkey % 2 = 0 GROUP BY 1, 2
), b AS (
  SELECT l_partkey, l_returnflag, round(sum(l_quantity), 4) AS qty_b
  FROM lineitem WHERE l_suppkey % 2 = 1 GROUP BY 1, 2
)
SELECT COALESCE(a.l_partkey, b.l_partkey) AS l_partkey,
       COALESCE(a.l_returnflag, b.l_returnflag) AS l_returnflag,
       COALESCE(qty_a, -1.0) AS qty_a, COALESCE(qty_b, -1.0) AS qty_b
FROM a FULL OUTER JOIN b
  ON a.l_partkey = b.l_partkey AND a.l_returnflag = b.l_returnflag
WHERE qty_a IS NULL OR qty_b IS NULL OR qty_a <> qty_b
"""


# --------------------------------------------------------------------------
# training-data pipeline ops: dedup / similarity / text analysis
# --------------------------------------------------------------------------
def q_exact_dedup(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return D.exact_dedup(d).select("doc_id")


def q_jaccard_near_dups(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return D.jaccard_pairs(d, n=1, threshold=0.6)


def q_minhash_lsh_near_dups(spark, sf_dir):
    """MinHash+LSH candidates verified by exact Jaccard. Fully oracle-checked:
    the sha256-based affine hash family is re-derived independently in DuckDB
    SQL (signatures → bands → bucket join → estimate prefilter → exact
    verify), so the whole LSH pipeline hash-compares across engines."""
    d = load(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, n=1, num_hashes=64, bands=16, threshold=0.6)


def q_simhash_near_dups(spark, sf_dir):
    """SimHash Hamming≤3 pairs. Fully oracle-checked: the 60-bit sha256-based
    fingerprint (bit votes, chunk blocking, Hamming filter) is recomputed
    independently in DuckDB SQL."""
    d = load(spark, sf_dir, "documents")
    return D.simhash_pairs(d, max_hamming=3, bands=4)


def q_windowed_event_counts(spark, sf_dir):
    """Event-time tumbling-window aggregation — the batch form of the
    streaming ``windowed_turn_counts`` operator (same window expression the
    watermarked stream uses; on a stream it emits per-window rows in append
    mode once the watermark passes)."""
    ev = load(spark, sf_dir, "events")
    w = F.window(F.col("ts").cast("timestamp"), "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_WINDOWED_ORACLE = """
SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS win_start_us,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_dedup_clusters(spark, sf_dir):
    """Pair→cluster dedup: connected components over near-dup edges, every
    doc mapped to its cluster representative (min id; singletons to self).
    Edges here are the exact-Jaccard pairs so the DuckDB oracle can rebuild
    the same graph and take its transitive closure with a recursive CTE; at
    corpus scale the identical code consumes minhash_lsh_pairs edges."""
    d = load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, n=1, threshold=0.6)
    return D.dedup_clusters(d, pairs)


def q_minhash_dedup_clusters(spark, sf_dir):
    """The PRODUCTION dedup composition: MinHash+LSH verified pairs as
    edges → connected components → cluster representatives — linear-time
    candidate generation end-to-end, oracle-checked against the full LSH
    pipeline + recursive closure re-derived in DuckDB SQL."""
    d = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d, n=1, num_hashes=64, bands=16, threshold=0.6)
    return D.dedup_clusters(d, pairs)


def q_cluster_dedup_stats(spark, sf_dir):
    """Apply-side of near-dup detection: drop every non-representative row,
    then account what survives per source — the curation-pipeline variant
    that actually removes duplicate clusters."""
    d = load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, n=1, threshold=0.6)
    kept = D.drop_duplicates_by_cluster(d, pairs)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
    )


def q_embedding_cosine_pairs(spark, sf_dir):
    """Exact all-pairs cosine near-dups. Same result set as always (the
    oracle is unchanged), computed since r7 through the chunked-matmul
    engine instead of the naive N² self-join: the matmul is a candidate
    prefilter with a guard band and every emitted pair's dot product is
    recomputed as the identical sequential float64 fold, so scores are
    bit-equal to :func:`operators.similarity.cosine_pairs` (which remains
    the didactic baseline, exercised by tests and the
    ``embedding_dedup_clusters`` edge generator). r7 measured 27.1 s →
    ~1.6 s at sf0.1 for the same exact output — the naive HOF-per-pair
    self-join was pure interpreted-expression overhead (guide §4.2)."""
    e = load(spark, sf_dir, "embeddings")
    return S.cosine_pairs_blocked(e, threshold=0.4)


def q_embedding_neardup_blocked(spark, sf_dir):
    """Chunked-matmul embedding near-dup — the compute-efficient exact path.
    Oracle-checked against the same exact-pairs SQL as
    ``embedding_cosine_pairs``: norms use the identical sequential JVM sum
    and only the dot product runs in numpy, so 6dp scores agree."""
    e = load(spark, sf_dir, "embeddings")
    return S.cosine_pairs_blocked(e, threshold=0.4)


def q_embedding_dedup_clusters(spark, sf_dir):
    """Embedding-cosine near-dup pairs → connected components → cluster
    representatives: the apply-side of embedding dedup, oracle-checked via
    the exact-pairs SQL chained into a recursive-CTE closure."""
    e = load(spark, sf_dir, "embeddings")
    pairs = S.cosine_pairs(e, threshold=0.4)
    return D.dedup_clusters(e, pairs, id_col="vec_id")


_EMBEDDING_CLUSTERS_ORACLE = """
WITH RECURSIVE p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.4
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b AS src, id_a AS dst FROM p
),
walk(id, reach) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
)
SELECT id AS vec_id, min(reach) AS cluster_rep FROM walk GROUP BY id
"""


def q_cosine_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return S.cosine_topk(e, [1.0] * 64, k=10)


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k. Oracle-checked: the seeded hyperplanes
    are plan-time literals, so the oracle SQL bakes the same planes in and
    recomputes bucket membership + in-bucket exact top-k with
    list_dot_product."""
    e = load(spark, sf_dir, "embeddings")
    return S.ann_topk_lsh(e, [1.0] * 64, k=10, num_planes=4)


def q_ivf_ann_topk(spark, sf_dir):
    """IVF approximate top-k (coarse quantize → probe nprobe cells → exact
    rank within). Oracle-checked: the codebook derives from data (smallest
    vec_ids), so DuckDB rebuilds the identical assignment + probe in SQL."""
    e = load(spark, sf_dir, "embeddings")
    return S.ivf_topk(e, [1.0] * 64, k=10, n_centroids=8, nprobe=2)


def _ivf_oracle_sql(k: int = 10, n_centroids: int = 8, nprobe: int = 2) -> str:
    q = "[" + ", ".join(["1.0"] * 64) + "]"
    return f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings
  ORDER BY vec_id ASC LIMIT {n_centroids}
),
scored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(c.cv AS DOUBLE[])), 6) AS s
  FROM embeddings e CROSS JOIN c
),
assign AS (
  SELECT vec_id, embedding, cid AS centroid_id FROM (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
qc AS (
  SELECT cid FROM c
  ORDER BY round(list_cosine_similarity(CAST(cv AS DOUBLE[]),
                                        CAST({q} AS DOUBLE[])), 6) DESC,
           cid ASC
  LIMIT {nprobe}
)
SELECT vec_id,
       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                    CAST({q} AS DOUBLE[])), 6) AS score
FROM assign WHERE centroid_id IN (SELECT cid FROM qc)
ORDER BY score DESC, vec_id ASC LIMIT {k}
"""


def q_text_profile(spark, sf_dir):
    """Per-document text-analysis profile: English stopword ratio, token
    counts (whitespace + BPE-ish), heuristic language ID (argmax stopword
    ratio, earliest code wins ties), and the distinct rolling-fingerprint
    count — one gate query exercising four operators on the same doc_id
    grain (consolidated so every registered query fits the driver's
    per-round check budget)."""
    d = load(spark, sf_dir, "documents")
    # r7: all seven profile columns are row-wise expressions over the SAME
    # document row, so this is ONE projection — the previous prof⋈lang⋈fp
    # three-frame join re-scanned documents three times and paid two join
    # stages for columns that never needed a join (guide §2.4: remove
    # shuffles outright). Rows and values are identical: doc_id is unique,
    # the joins were inner on doc_id, and each column keeps its exact
    # operator expression (the lang fold comes from the SAME shared
    # ``lang_id_from_ratios`` helper ``lang_id`` uses; ``n_fingerprints`` =
    # size of the window-8 shingle set — ``transform`` preserves length, so
    # size(rolling fingerprints) ≡ size(shingles) without N·W xxhash64
    # calls whose values were only ever counted, never read).
    base = d.select(
        "doc_id",
        F.round(TA.stopword_ratio("text", "en"), 6).alias("en_ratio"),
        TA.token_count("text").alias("n_tokens"),
        TA.bpe_ish_token_count("text").alias("n_subwords"),
        *[
            TA.stopword_ratio("text", lang).alias(f"__sw_{lang}")
            for lang in TA.STOPWORDS
        ],
        F.size(D.word_shingles("text", 8)).alias("n_fingerprints"),
    )
    detected, score = TA.lang_id_from_ratios(
        {lang: F.col(f"__sw_{lang}") for lang in TA.STOPWORDS}
    )
    return base.select(
        "doc_id", "en_ratio", "n_tokens", "n_subwords",
        detected.alias("detected_lang"), score.alias("lang_score"),
        "n_fingerprints",
    )


def q_quality_scores(spark, sf_dir):
    """Composite quality score (C4/Gopher-style length/punct/stopword
    heuristics)."""
    d = load(spark, sf_dir, "documents")
    return TA.quality_features(d).select(
        "doc_id", "q_chars", "q_tokens", "q_punct_ratio", "q_score"
    )


_QUALITY_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         length(text) AS q_chars,
         len(string_split({_NORM_SQL}, ' ')) AS n_tokens,
         length({_NORM_SQL}) AS norm_chars,
         length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS n_punct,
         {_sw_ratio_sql(_SW["en"])} AS sw_ratio
  FROM documents
), g AS (
  SELECT doc_id, q_chars, n_tokens,
         CASE WHEN q_chars > 0 THEN CAST(n_punct AS DOUBLE) / q_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_tokens > 0 THEN CAST(norm_chars AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_word_len,
         sw_ratio
  FROM f
)
SELECT doc_id, q_chars, n_tokens AS q_tokens,
       round(punct_ratio, 6) AS q_punct_ratio,
       round(least(n_tokens / 20.0, 1.0) * 0.4
           + least(sw_ratio * 5.0, 1.0) * 0.3
           + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.2
           + (CASE WHEN mean_word_len >= 2.5 AND mean_word_len <= 10.0
                   THEN 1.0 ELSE 0.0 END) * 0.1, 6) AS q_score
FROM g
"""


def q_curation_pipeline(spark, sf_dir):
    """Composed training-data curation pass: exact dedup → English
    stopword-ratio gate → per-source doc/token accounting. One lazy Catalyst
    plan end-to-end (the GAF-style linear transform pipeline shape,
    reference ``parsers/gene_association_file.py:245-281``)."""
    d = load(spark, sf_dir, "documents")
    deduped = D.exact_dedup(d)
    gated = deduped.filter(F.round(TA.stopword_ratio("text", "en"), 6) >= 0.05)
    return gated.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(TA.token_count("text").cast("long")).alias("total_tokens"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
    )


_CURATION_ORACLE = f"""
WITH dedup AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256({_NORM_SQL})
), kept AS (
  SELECT d.* FROM documents d JOIN dedup USING (doc_id)
  WHERE round(CASE WHEN len(string_split({_NORM_SQL}, ' ')) > 0
        THEN CAST(len(list_filter(string_split({_NORM_SQL}, ' '),
             x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS DOUBLE)
             / len(string_split({_NORM_SQL}, ' '))
        ELSE 0.0 END, 6) >= 0.05
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(list_filter(string_split({_NORM_SQL}, ' '), x -> x <> ''))) AS BIGINT) AS total_tokens,
       round(avg(length(text)), 4) AS avg_chars
FROM kept GROUP BY source
"""


# combined oracle for q_text_profile: the four previously-separate
# text-analysis oracles (stopword ratio, token counts, lang id, rolling
# fingerprint count) joined on doc_id — each column keeps its original
# per-operator SQL definition
_TEXT_PROFILE_ORACLE = f"""
WITH sw AS (
  SELECT doc_id,
         round(CASE WHEN len(string_split({_NORM_SQL}, ' ')) > 0
               THEN CAST(len(list_filter(string_split({_NORM_SQL}, ' '),
                    x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS DOUBLE)
                    / len(string_split({_NORM_SQL}, ' '))
               ELSE 0.0 END, 6) AS en_ratio,
         len(list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '')) AS n_tokens,
         len(regexp_extract_all(lower(text), '[a-z0-9]{{1,4}}|[^a-z0-9\\s]')) AS n_subwords
  FROM documents
), r AS (
  SELECT doc_id,
         {_sw_ratio_sql(_SW["de"])} AS r_de,
         {_sw_ratio_sql(_SW["en"])} AS r_en,
         {_sw_ratio_sql(_SW["es"])} AS r_es,
         {_sw_ratio_sql(_SW["fr"])} AS r_fr
  FROM documents
), lang AS (
  SELECT doc_id,
         CASE WHEN greatest(r_de, r_en, r_es, r_fr) <= 0 THEN 'und'
              WHEN r_de = greatest(r_de, r_en, r_es, r_fr) THEN 'de'
              WHEN r_en = greatest(r_de, r_en, r_es, r_fr) THEN 'en'
              WHEN r_es = greatest(r_de, r_en, r_es, r_fr) THEN 'es'
              ELSE 'fr' END AS detected_lang,
         round(greatest(greatest(r_de, r_en, r_es, r_fr), 0.0), 6) AS lang_score
  FROM r
), w AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
fp AS (
  SELECT doc_id,
         len(list_distinct(list_filter(
             list_transform(range(0, greatest(len(toks) - 8, 0) + 1),
                            i -> array_to_string(toks[i+1:i+8], ' ')),
             s -> s <> '')))
         AS n_fingerprints
  FROM w
)
SELECT sw.doc_id, en_ratio, n_tokens, n_subwords,
       detected_lang, lang_score, n_fingerprints
FROM sw JOIN lang USING (doc_id) JOIN fp USING (doc_id)
"""


def q_multimodal_features(spark, sf_dir):
    """Binary-payload → feature-vector plumbing via mapInPandas.
    Oracle-checked: the synthetic media table derives from sha256, so DuckDB
    regenerates the identical payload bytes and recomputes the deterministic
    fake decoder (byte histogram) in SQL, per exploded feature dimension."""
    from .operators.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, n=256)
    feats = extract_features(media, feature_dim=8)
    return feats.select(
        "media_id", "kind", "decode_ok", F.posexplode("feature").alias("dim", "val")
    ).withColumn("val", F.round(F.col("val").cast("double"), 6))


_EXACT_DEDUP_ORACLE = f"""
SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256({_NORM_SQL})
"""

_JACCARD_ORACLE = f"""
WITH sh AS (
  SELECT doc_id AS id,
         list_distinct(string_split({_NORM_SQL}, ' ')) AS s
  FROM documents
), sz AS (SELECT id, len(s) AS sz, s FROM sh),
ex AS (SELECT id, sz, unnest(s) AS w FROM sz),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
         count(*) AS common
  FROM ex a JOIN ex b ON a.w = b.w AND a.id < b.id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(CAST(common AS DOUBLE) / (sz_a + sz_b - common), 6) AS jaccard
FROM inter
WHERE CAST(common AS DOUBLE) / (sz_a + sz_b - common) >= 0.6
"""

_COSINE_PAIRS_ORACLE = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.4
"""

_ONES_64 = "[" + ", ".join(["1.0"] * 64) + "]"

_COSINE_TOPK_ORACLE = f"""
SELECT vec_id,
       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                    CAST({_ONES_64} AS DOUBLE[])), 6) AS score
FROM embeddings
ORDER BY score DESC, vec_id ASC LIMIT 10
"""

# shared CTE body: exact-Jaccard edge list + transitive closure via
# recursive CTE — the declarative ground truth for connected components
_CLUSTER_WALK_SQL = f"""
sh AS (
  SELECT doc_id AS id, list_distinct(string_split({_NORM_SQL}, ' ')) AS s
  FROM documents
),
ex AS (SELECT id, len(s) AS sz, unnest(s) AS w FROM sh),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
         count(*) AS common
  FROM ex a JOIN ex b ON a.w = b.w AND a.id < b.id
  GROUP BY 1, 2, 3, 4
),
p AS (
  SELECT id_a, id_b FROM inter
  WHERE round(CAST(common AS DOUBLE) / (sz_a + sz_b - common), 6) >= 0.6
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b AS src, id_a AS dst FROM p
),
walk(id, reach) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
)
"""

_DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
{_CLUSTER_WALK_SQL}
SELECT id AS doc_id, min(reach) AS cluster_rep FROM walk GROUP BY id
"""

_CLUSTER_STATS_ORACLE = f"""
WITH RECURSIVE
{_CLUSTER_WALK_SQL},
reps AS (
  SELECT id AS doc_id FROM walk GROUP BY id HAVING id = min(reach)
)
SELECT source, count(*) AS n_docs, round(avg(length(text)), 4) AS avg_chars
FROM documents JOIN reps USING (doc_id)
GROUP BY source
"""


def _minhash_cte_body(
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
    max_bucket_size: int = 500,
    est_fraction: float = 0.75,
) -> str:
    """Independent DuckDB re-derivation of the full MinHash+LSH pipeline —
    same sha256 base + affine family, banding, bucket guard, estimate
    prefilter and exact-Jaccard verification as
    ``operators.dedup.minhash_lsh_pairs`` — as a reusable CTE body ending in
    ``ver`` (scored pairs)."""
    from .operators.dedup import MINHASH_PRIME, affine_params

    r = num_hashes // bands
    seeds = ", ".join(
        f"({i}, {a}::BIGINT, {b}::BIGINT)"
        for i, (a, b) in enumerate(affine_params(num_hashes))
    )
    h_defs = ", ".join(f"sig[band*{r}+{j+1}] AS h{j}" for j in range(r))
    h_names = ", ".join(f"h{j}" for j in range(r))
    h_joins = " ".join(f"AND a.h{j} = b.h{j}" for j in range(r))
    idx_list = "[" + ", ".join(str(i + 1) for i in range(num_hashes)) + "]"
    est_floor = repr(est_fraction * threshold)
    return f"""
docs AS (
  SELECT doc_id AS id, list_distinct(string_split({_NORM_SQL}, ' ')) AS sh
  FROM documents
),
tok AS (SELECT id, unnest(sh) AS s FROM docs),
base AS (SELECT id, CAST(concat('0x', substr(sha256(s),1,8)) AS BIGINT) AS x FROM tok),
seeds(i, a, b) AS (SELECT * FROM (VALUES {seeds})),
hv AS (
  SELECT id, i, min((a * x + b) % {MINHASH_PRIME}) AS mh
  FROM base CROSS JOIN seeds GROUP BY id, i
),
sig AS (SELECT id, list(mh ORDER BY i) AS sig FROM hv GROUP BY id),
banded AS (
  SELECT id, band, {h_defs}
  FROM sig CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) bb
),
bsz AS (SELECT band, {h_names}, count(*) AS n FROM banded GROUP BY ALL),
bk AS (
  SELECT banded.* FROM banded JOIN bsz USING (band, {h_names})
  WHERE n <= {max_bucket_size}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bk a JOIN bk b ON a.band = b.band {h_joins} AND a.id < b.id
),
est AS (
  SELECT id_a, id_b FROM cand
  JOIN sig sa ON sa.id = cand.id_a
  JOIN sig sb ON sb.id = cand.id_b
  WHERE CAST(len(list_filter({idx_list}, k -> sa.sig[k] = sb.sig[k])) AS DOUBLE)
        / {num_hashes} >= {est_floor}
),
ver AS (
  SELECT id_a, id_b,
         round(CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
               / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))),
               6) AS jaccard
  FROM est JOIN docs da ON da.id = est.id_a JOIN docs db ON db.id = est.id_b
)
"""


def _minhash_oracle_sql(
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
) -> str:
    body = _minhash_cte_body(num_hashes, bands, threshold)
    return f"""
WITH {body}
SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= {threshold}
"""


def _minhash_cluster_oracle_sql(
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
) -> str:
    """Composed oracle: the LSH pipeline's verified pairs as edges → the
    recursive-CTE transitive closure → cluster representatives. Checks the
    PRODUCTION dedup composition (LSH edges, not exact-jaccard edges)
    end-to-end across engines."""
    body = _minhash_cte_body(num_hashes, bands, threshold)
    return f"""
WITH RECURSIVE {body},
mh_pairs AS (SELECT id_a, id_b FROM ver WHERE jaccard >= {threshold}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM mh_pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM mh_pairs
),
walk(id, reach) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
)
SELECT id AS doc_id, min(reach) AS cluster_rep FROM walk GROUP BY id
"""


def _simhash_oracle_sql(max_hamming: int = 3, bands: int = 4) -> str:
    """Independent DuckDB re-derivation of the 60-bit SimHash pipeline:
    sha256 token hashes → bit votes → fingerprint → pigeonhole chunk
    blocking → Hamming filter (mirrors ``operators.dedup.simhash_pairs``)."""
    width = 60 // bands
    mask = (1 << width) - 1
    return f"""
WITH docs AS (
  SELECT doc_id AS id, list_distinct(string_split({_NORM_SQL}, ' ')) AS toks
  FROM documents
),
tok AS (SELECT id, unnest(toks) AS t FROM docs),
th AS (SELECT id, CAST(concat('0x', substr(sha256(t),1,15)) AS BIGINT) AS h FROM tok),
votes AS (
  SELECT id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) bb
  GROUP BY id, bit
),
fp AS (
  SELECT id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY id
),
chunks AS (
  SELECT id, simhash, ci, (simhash >> (ci * {width})) & {mask} AS chunk
  FROM fp CROSS JOIN (SELECT unnest(range(0, {bands})) AS ci) cc
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM chunks a JOIN chunks b
    ON a.ci = b.ci AND a.chunk = b.chunk AND a.id < b.id
)
SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
FROM pairs WHERE hamming <= {max_hamming}
"""


def _ann_oracle_sql(
    query: list[float], k: int = 10, num_planes: int = 4, seed: int = 42
) -> str:
    """Oracle for the LSH-bucketed approximate top-k: the seeded hyperplanes
    are plan-time constants, baked verbatim into the SQL, which recomputes
    bucket membership and the in-bucket exact cosine top-k."""
    from .operators.similarity import _hyperplane

    dim = len(query)
    planes = [_hyperplane(dim, p, seed) for p in range(num_planes)]
    qb = 0
    for plane in planes:
        s = sum(qq * w for qq, w in zip(query, plane))
        qb = qb * 2 + (1 if s > 0 else 0)
    terms = []
    for p, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
        w = 2 ** (num_planes - 1 - p)
        terms.append(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"CAST({lit} AS DOUBLE[])) > 0 THEN {w} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    qlit = "[" + ", ".join(repr(float(x)) for x in query) + "]"
    return f"""
SELECT vec_id,
       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                    CAST({qlit} AS DOUBLE[])), 6) AS score
FROM embeddings
WHERE ({bucket}) = {qb}
ORDER BY score DESC, vec_id ASC LIMIT {k}
"""


# DuckDB regenerates the sha256-seeded synthetic media table and recomputes
# the deterministic fake decoder (byte-histogram over the hex-digest ascii
# bytes, normalized by payload length 64) per feature dimension
_MULTIMODAL_ORACLE = """
WITH m AS (SELECT unnest(range(0, 256)) AS media_id),
p AS (
  SELECT media_id,
         sha256(concat('42|', media_id)) AS hexs,
         CAST(concat('0x', substr(sha256(concat('42|', media_id, '|kind')),1,2))
              AS INTEGER) % 3 AS kidx
  FROM m
),
ch AS (
  SELECT media_id, ascii(substr(hexs, i + 1, 1)) % 8 AS bkt
  FROM p CROSS JOIN (SELECT unnest(range(0, 64)) AS i) ii
),
hist AS (SELECT media_id, bkt, count(*) AS c FROM ch GROUP BY media_id, bkt),
dims AS (SELECT unnest(range(0, 8)) AS dim)
SELECT p.media_id,
       CASE kidx WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       TRUE AS decode_ok,
       CAST(dims.dim AS INTEGER) AS dim,
       round(COALESCE(hist.c, 0) / 64.0, 6) AS val
FROM p CROSS JOIN dims
LEFT JOIN hist ON hist.media_id = p.media_id AND hist.bkt = dims.dim
"""



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver checks entries in dict order under a
    # per-round budget (round 3 cut off after 50). Cheap + newly-added
    # queries run first; the deliberately-quadratic oracle tiers run last so
    # a budget cut can only ever drop a query whose scale-path twin already
    # passed.
    return {
        "text_profile": q_text_profile,
        "multimodal_features": q_multimodal_features,
        "lake_stream_ingest": q_lake_stream_ingest,
        "lake_delete": q_lake_delete,
        "lww_latest_turn": q_lww_latest_turn,
        "cdc_replay_final_state": q_cdc_replay_final_state,
        "snapshot_diff_classify": q_snapshot_diff_classify,
        "changed_keys": q_changed_keys,
        "new_only_keys": q_new_only_keys,
        "removed_only_keys": q_removed_only_keys,
        "conditional_agg_metrics": q_conditional_agg_metrics,
        "distinct_projection": q_distinct_projection,
        "collect_sorted_reasons": q_collect_sorted_reasons,
        "union_fold": q_union_fold,
        "when_classifier": q_when_classifier,
        "string_normalization": q_string_normalization,
        "json_extraction": q_json_extraction,
        "sha_fingerprints": q_sha_fingerprints,
        "explode_tokens": q_explode_tokens,
        "higher_order_filter": q_higher_order_filter,
        "validation_errors": q_validation_errors,
        "pricing_summary": q_pricing_summary,
        "broadcast_dim_join": q_broadcast_dim_join,
        "region_rollup": q_region_rollup,
        "left_join_fallback": q_left_join_fallback,
        "composite_outer_join": q_composite_outer_join,
        "windowed_event_counts": q_windowed_event_counts,
        "lake_pruned_read": q_lake_pruned_read,
        "lake_sql_view": q_lake_sql_view,
        "lake_time_travel": q_lake_time_travel,
        "lake_update": q_lake_update,
        "lake_schema_evolution": q_lake_schema_evolution,
        "dsv_roundtrip": q_dsv_roundtrip,
        "xml_roundtrip": q_xml_roundtrip,
        "fasta_roundtrip": q_fasta_roundtrip,
        "exact_dedup": q_exact_dedup,
        "dedup_clusters": q_dedup_clusters,
        "minhash_dedup_clusters": q_minhash_dedup_clusters,
        "cluster_dedup_stats": q_cluster_dedup_stats,
        "minhash_lsh_near_dups": q_minhash_lsh_near_dups,
        "simhash_near_dups": q_simhash_near_dups,
        "embedding_neardup_blocked": q_embedding_neardup_blocked,
        "embedding_dedup_clusters": q_embedding_dedup_clusters,
        "cosine_topk": q_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "quality_scores": q_quality_scores,
        "curation_pipeline": q_curation_pipeline,
        # deliberately-quadratic exact oracle tiers LAST (see note above)
        "jaccard_near_dups": q_jaccard_near_dups,
        "embedding_cosine_pairs": q_embedding_cosine_pairs,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "text_profile": _TEXT_PROFILE_ORACLE,
        "lake_stream_ingest": _STREAM_INGEST_ORACLE,
        "lake_delete": _LAKE_DELETE_ORACLE,
        "lww_latest_turn": _LWW_ORACLE,
        "cdc_replay_final_state": _REPLAY_ORACLE,
        "snapshot_diff_classify": _DIFF_CLASSIFY_ORACLE,
        "changed_keys": _CHANGED_KEYS_ORACLE,
        "new_only_keys": _NEW_ONLY_ORACLE,
        "removed_only_keys": _REMOVED_ONLY_ORACLE,
        "conditional_agg_metrics": _COND_AGG_ORACLE,
        "distinct_projection": _DISTINCT_ORACLE,
        "collect_sorted_reasons": _COLLECT_ORACLE,
        "union_fold": _UNION_ORACLE,
        "when_classifier": _WHEN_ORACLE,
        "string_normalization": _STRINGS_ORACLE,
        "json_extraction": _JSON_ORACLE,
        "sha_fingerprints": _SHA_ORACLE,
        "explode_tokens": _EXPLODE_ORACLE,
        "higher_order_filter": _HOF_ORACLE,
        "validation_errors": _VALIDATION_ORACLE,
        "pricing_summary": _PRICING_ORACLE,
        "broadcast_dim_join": _BROADCAST_ORACLE,
        "region_rollup": _REGION_ORACLE,
        "left_join_fallback": _LEFTJOIN_ORACLE,
        "composite_outer_join": _COMPOSITE_ORACLE,
        "windowed_event_counts": _WINDOWED_ORACLE,
        "lake_pruned_read": _LAKE_PRUNED_ORACLE,
        "lake_sql_view": _LAKE_VIEW_ORACLE,
        "lake_time_travel": _LAKE_TRAVEL_ORACLE,
        "lake_update": _LAKE_UPDATE_ORACLE,
        "lake_schema_evolution": _LAKE_EVOLVE_ORACLE,
        "dsv_roundtrip": _DSV_ROUNDTRIP_ORACLE,
        "xml_roundtrip": _XML_ROUNDTRIP_ORACLE,
        "fasta_roundtrip": _FASTA_ROUNDTRIP_ORACLE,
        "exact_dedup": _EXACT_DEDUP_ORACLE,
        "jaccard_near_dups": _JACCARD_ORACLE,
        "dedup_clusters": _DEDUP_CLUSTERS_ORACLE,
        "minhash_dedup_clusters": _minhash_cluster_oracle_sql(
            num_hashes=64, bands=16, threshold=0.6
        ),
        "cluster_dedup_stats": _CLUSTER_STATS_ORACLE,
        "minhash_lsh_near_dups": _minhash_oracle_sql(
            num_hashes=64, bands=16, threshold=0.6
        ),
        "simhash_near_dups": _simhash_oracle_sql(max_hamming=3, bands=4),
        "embedding_cosine_pairs": _COSINE_PAIRS_ORACLE,
        "embedding_neardup_blocked": _COSINE_PAIRS_ORACLE,
        "embedding_dedup_clusters": _EMBEDDING_CLUSTERS_ORACLE,
        "cosine_topk": _COSINE_TOPK_ORACLE,
        "ann_lsh_topk": _ann_oracle_sql([1.0] * 64, k=10, num_planes=4),
        "ivf_ann_topk": _ivf_oracle_sql(k=10, n_centroids=8, nprobe=2),
        "curation_pipeline": _CURATION_ORACLE,
        "quality_scores": _QUALITY_ORACLE,
        "multimodal_features": _MULTIMODAL_ORACLE,
    }

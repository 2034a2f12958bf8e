"""Seeded inputs for the ``query_suite`` workload.

Writes the ten tables the bench queries read (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet file
each, with the column names and Arrow types of the engine's query fixtures.
Everything derives from one ``numpy`` generator seeded with ``--seed``, so a
seed fixes every byte the engine reads.

Distributions follow what the queries depend on:

* money and quantity columns carry two decimals, so engine-side and
  DuckDB-side sums round identically at four decimals;
* ``events`` are time-ordered over 30 days, ~1/5 ``error`` (the CDC
  queries read those as deletes);
* ``documents`` draw 10-100 words from a 30-word vocabulary (word-set
  Jaccard between long documents is high, so MinHash/SimHash verify real
  candidate pairs), plus perturbed near-duplicates and a few exact copies;
* ``embeddings`` are unit vectors around ten cluster centres, so cosine
  pairs above 0.4 exist inside clusters and IVF cells are uneven.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

# row counts of the generated tables: about TPC-H scale factor 0.005 for
# the star schema; 300 documents keep the MinHash candidate set (most long
# documents share most of the vocabulary) and its oracle within the run
SIZES = {
    "customer": 750,
    "supplier": 50,
    "part": 1000,
    "orders": 7500,
    "lineitem": 30000,
    "events": 10000,
    "documents": 300,
    "embeddings": 500,
}

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: datetime, span_days: int, n: int):
    off = rng.integers(0, span_days, n)
    return np.array(
        [np.datetime64(start + timedelta(days=int(d)), "us") for d in off]
    )


def _text_corpus(rng: np.random.Generator, n: int) -> list[str]:
    docs: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            # exact copy of an earlier document
            docs.append(docs[int(rng.integers(0, i))])
        elif i > 10 and r < 0.10:
            # near-duplicate: an earlier document with a few words replaced
            words = docs[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[int(j)] = "dup"
            docs.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            docs.append(" ".join(VOCAB[int(w)] for w in rng.integers(0, len(VOCAB), k)))
    return docs


def generate_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    i32, i64 = pa.int32(), pa.int64()

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": segments[rng.integers(0, 5, n["customer"])],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    adj = np.array(["large", "hot", "blue", "old", "red", "small", "green", "cold"])
    noun = np.array(["ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "screw"])
    ptypes = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), i64),
        "p_name": [
            f"{a} {b}" for a, b in zip(
                adj[rng.integers(0, 8, np_)], noun[rng.integers(0, 8, np_)]
            )
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
        "p_type": ptypes[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    start = datetime(1995, 1, 1)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), i64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(_days(rng, start, 2404, no), pa.timestamp("us")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days(rng, start, 2500, nl), pa.timestamp("us")),
    })
    ne = n["events"]
    # strictly increasing microsecond timestamps across 30 days
    gaps = rng.integers(1, 2 * (30 * 86400 * 10**6) // ne, ne)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne), i64),
        "event_type": np.array(
            ["signup", "purchase", "view", "click", "error"]
        )[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = _text_corpus(rng, nd)
    langs = np.array(["en", "en", "zh", "es", "fr", "de"])[rng.integers(0, 6, nd)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": langs,
        "source": [f"src{k % 20}" for k in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    nv = n["embeddings"]
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centres[labels] + rng.normal(scale=1.2, size=(nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(
            [row for row in vecs.astype("float32")], pa.list_(pa.float32())
        ),
        "label": pa.array(labels, i32),
    })
    return out


def write_tables(seed: int, out_dir: str) -> str:
    """Generate and write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

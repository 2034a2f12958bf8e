"""Similarity search over embedding columns (``array<float>``).

No reference counterpart (cdm-data-loader-utils has no vector ops); required
as first-class training-data-pipeline capability. Two tiers:

* brute-force cosine — exact, one pass, JVM-side ``aggregate``/``zip_with``
  arithmetic (no Python);
* random-hyperplane LSH — the scale path: hash every vector to a small
  bucket code, search only within the probe's bucket (and optionally its
  neighbors). Hyperplanes are derived deterministically from seeded hashes,
  so results are reproducible at any parallelism.

At 100 TB the brute-force path is a full scan per query (fine for batched
offline scoring with thousands of queries fused into one crossJoin stage);
the LSH path turns it into a bucket-pruned join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dot(a: F.Column, b: F.Column) -> F.Column:
    """JVM-side dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: F.Column, b: F.Column) -> F.Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to a constant query vector.

    Deterministic ordering (score desc, id asc); Catalyst turns
    orderBy+limit into TakeOrderedAndProject — no full sort at scale."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t).

    Brute-force self-join — exact baseline; use :func:`lsh_bucket` blocking
    for corpora."""
    # precompute norms once per vector (2·N array passes) instead of per
    # pair (2·N² passes); only the dot product remains pairwise
    withn = df.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__n")
    )
    a = withn.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("__n").alias("na")
    )
    b = withn.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("__n").alias("nb")
    )
    # the threshold applies to the raw cosine; only the emitted score is
    # rounded (a raw 0.3999996 rounds to 0.4 but is below t = 0.4)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "__raw", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("__raw") >= threshold)
        .select("id_a", "id_b", F.round(F.col("__raw"), 6).alias("cosine"))
    )


def cosine_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    chunk_size: int = 256,
    num_chunks: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via chunked matrix multiply — the
    compute-efficient exact path.

    The exact :func:`cosine_pairs` self-join materializes N²/2 rows with two
    full vectors each; at corpus scale that shuffle is the wall. Here vectors
    are grouped into C = ⌈N / chunk_size⌉ hash chunks (one aggregate), the
    C·(C+1)/2 chunk pairs equi-less-join, and an Arrow-batched
    ``mapInPandas`` computes each chunk-pair's cosine submatrix with one
    numpy matmul — O(N²·d) flops but only O(chunk_size²) candidate memory
    per task and O(N·√pairs) bytes shuffled.

    Packed-row size is bounded BY CONSTRUCTION: the chunk count scales with
    N, so a packed cell holds ~chunk_size vectors (± hash variance) at any
    corpus size — default 256 × 64-dim float64 ≈ 128 KB, never near the 2 GB
    row limit. The C·(C+1)/2 chunk-pair keys are enumerated as a TINY int
    DataFrame and equi-joined against the packed table twice (broadcasting
    only the KEYS, never the packed vectors), so the packed side streams
    through shuffled hash joins — no broadcast of O(N·d) bytes, hence no
    driver/broadcast ceiling at ≫10^7 vectors. All-pairs work is still
    quadratic in N (inherent to exact near-dup); the sub-quadratic scale
    path is :func:`lsh_bucket` blocking.

    Scores are float64 and summation-order-EXACT vs :func:`cosine_pairs` and
    the DuckDB oracle: the numpy matmul (pairwise/SIMD accumulation) is used
    only as a candidate prefilter with a guard band; every emitted pair's dot
    product is recomputed as a sequential left-to-right float64 fold — the
    same order the JVM ``aggregate`` and DuckDB use — so a score landing on a
    6dp rounding boundary can never flip between engines."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if num_chunks is None:
        n = df.count()
        num_chunks = max(1, (n + chunk_size - 1) // chunk_size)
    # ids keep their NATIVE type end-to-end: a cast("long") here would crash
    # on string ids under Spark 4 ANSI mode (or null them all out with ANSI
    # off), while the exact cosine_pairs path this operator is score-exact
    # against accepts any id type
    id_type = df.schema[id_col].dataType
    integral_ids = isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    )
    chk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_chunks)).cast("int")
    # hoist norms once per vector (JVM-side, same summation order as the
    # exact path) and pack (id, vec, norm) per chunk, deterministically
    # sorted so downstream numpy work is order-stable
    # persist: BOTH join sides below derive from this aggregate, and the
    # pre-exchange projections differ, so without a persist the scan + pack
    # (sort_array(collect_list)) executes twice per run — the dominant cost
    # at small C. The cache is O(N·d·8) bytes total (the corpus itself,
    # packed), spilling to disk if it doesn't fit executor memory.
    packed = (
        df.select(
            chk.alias("chk"),
            F.struct(
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("v"),
                norm(F.col(vec_col)).alias("n"),
            ).alias("e"),
        )
        .groupBy("chk")
        .agg(F.sort_array(F.collect_list("e")).alias("es"))
        .persist()
    )
    spark = df.sparkSession
    # enumerate the C·(C+1)/2 (chk_a ≤ chk_b) pair KEYS distributed (two
    # int ranges — never a driver-side list), then resolve each side by
    # hash-joining the key table against the packed chunks: the packed side
    # is exchanged by chunk id, never broadcast. The key table is broadcast
    # only while it is genuinely small — at C ~ 4e4 the C·(C+1)/2 rows are
    # multi-GB, so past ~8M pairs it flows through a shuffled join too (no
    # driver/broadcast ceiling on EITHER side).
    ra = spark.range(num_chunks).select(F.col("id").cast("int").alias("chk_a"))
    rb = spark.range(num_chunks).select(F.col("id").cast("int").alias("chk_b"))
    pair_keys = ra.join(rb, F.col("chk_a") <= F.col("chk_b"))
    n_pairs = num_chunks * (num_chunks + 1) // 2
    if n_pairs <= 8_000_000:
        pair_keys = F.broadcast(pair_keys)
    pa = packed.select(F.col("chk").alias("chk_a"), F.col("es").alias("es_a"))
    pb = packed.select(F.col("chk").alias("chk_b"), F.col("es").alias("es_b"))
    # shuffle_hash hints pin the packed sides to a SHUFFLED hash join: the
    # broadcast size estimate from the key join must not propagate and trick
    # the planner into broadcasting O(N·d) of packed vectors (the exact
    # ceiling this formulation removes)
    chunk_pairs = (
        pa.join(pair_keys, "chk_a")
        .hint("shuffle_hash")
        .join(pb.hint("shuffle_hash"), "chk_b")
    )
    # the join output is hash-distributed on chk_b only (~C distinct keys);
    # when C is small relative to the shuffle width, re-spread by the PAIR
    # key so every core gets work — skipped once C alone saturates the
    # cluster, because it reshuffles the packed payload (the largest
    # intermediate) a second time for no balance gain
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if num_chunks < 2 * shuffle_parts:
        chunk_pairs = chunk_pairs.repartition(shuffle_parts, "chk_a", "chk_b")

    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    id_np_dtype = np.int64 if integral_ids else object

    _round6 = round6_half_up

    # candidate guard band on the matmul score: it covers the ~1e-13 gap
    # between numpy's pairwise accumulation and the sequential fold, with a
    # wide margin. Everything inside the band is decided by the exact
    # sequential rescore below.
    guard = 1e-9

    def _matmul(batches):
        for pdf in batches:
            outs = []
            for same, es_a, es_b in zip(
                pdf["chk_a"].to_numpy() == pdf["chk_b"].to_numpy(),
                pdf["es_a"], pdf["es_b"],
            ):
                ia = np.array([e["id"] for e in es_a], dtype=id_np_dtype)
                ib = np.array([e["id"] for e in es_b], dtype=id_np_dtype)
                va = np.asarray([np.asarray(e["v"], dtype=np.float64) for e in es_a])
                vb = np.asarray([np.asarray(e["v"], dtype=np.float64) for e in es_b])
                na = np.fromiter((e["n"] for e in es_a), dtype=np.float64)
                nb = np.fromiter((e["n"] for e in es_b), dtype=np.float64)
                sims = (va @ vb.T) / np.outer(na, nb)
                if same:
                    # keep strictly-upper triangle (id_a < id_b)
                    sims = np.where(ia[:, None] < ib[None, :], sims, -2.0)
                ii, jj = np.where(sims >= threshold - guard)
                if len(ii) == 0:
                    continue
                # exact rescoring of the candidates decides inclusion AND the
                # emitted score: np.add.accumulate performs the identical
                # strictly-sequential left-to-right float64 fold as the JVM
                # `aggregate(..., acc + v)` and DuckDB's loop — in C, not an
                # interpreter loop — so this stays vectorized even when every
                # pair is above threshold
                prods = va[ii] * vb[jj]
                seq_dots = np.add.accumulate(prods, axis=1)[:, -1]
                exact = seq_dots / (na[ii] * nb[jj])
                # inclusion on the raw cosine, like cosine_pairs and the
                # oracle; only the emitted score is rounded
                keep = exact >= threshold
                if not keep.any():
                    continue
                scores = np.fromiter(
                    (_round6(v) for v in exact[keep]), dtype=np.float64,
                    count=int(keep.sum()),
                )
                xa, xb = ia[ii[keep]], ib[jj[keep]]
                swap = xa > xb
                xa, xb = np.where(swap, xb, xa), np.where(swap, xa, xb)
                pd_id = "int64" if integral_ids else "object"
                outs.append(
                    pd.DataFrame(
                        {
                            "id_a": pd.Series(xa, dtype=pd_id),
                            "id_b": pd.Series(xb, dtype=pd_id),
                            "cosine": pd.Series(scores, dtype="float64"),
                        }
                    )
                )
            empty_id = "int64" if integral_ids else "object"
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(
                    {
                        "id_a": pd.Series([], dtype=empty_id),
                        "id_b": pd.Series([], dtype=empty_id),
                        "cosine": pd.Series([], dtype="float64"),
                    }
                )
            )

    from .cache import track

    return track(chunk_pairs.mapInPandas(_matmul, out_schema), packed)


def round6_half_up(x: float) -> float:
    """Spark's ``Round(double, 6)`` = HALF_UP on the shortest decimal repr
    (scala BigDecimal.decimal); Python's builtin ``round`` is HALF_EVEN —
    mirror the JVM exactly via Decimal on ``repr()``. Every driver-side
    score that must agree with an ``F.round(..., 6)`` plan column (IVF cell
    picks, blocked-matmul rescoring) goes through this."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _hyperplane(dim: int, plane: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane: component j is a
    sha256-derived value in [-1, 1). Pure Python at plan time (tiny:
    dim×planes floats baked into the plan as literals). sha256 — not the
    builtin ``hash()`` — so the planes are bit-identical across interpreter
    versions and engines (same portability family as the MinHash affine
    params, ``dedup.py`` ``affine_params``)."""
    import hashlib

    out = []
    for j in range(dim):
        digest = hashlib.sha256(f"hp:{seed}:{plane}:{j}".encode()).digest()
        h = int.from_bytes(digest[:4], "big") / 0xFFFFFFFF
        out.append(2.0 * h - 1.0)
    return out


def lsh_bucket(
    df: DataFrame,
    dim: int,
    num_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (sign) LSH: adds a ``bucket`` int column (one bit
    per hyperplane). Cosine-similar vectors collide with probability
    (1 − θ/π)^planes."""
    bucket = F.lit(0)
    for p in range(num_planes):
        plane = _hyperplane(dim, p, seed)
        pc = F.array(*[F.lit(x) for x in plane])
        bit = (dot(F.col(vec_col), pc) > 0).cast("int")
        bucket = bucket * 2 + bit
    return df.withColumn("bucket", bucket)


def lsh_query_bucket(query: list[float], num_planes: int, seed: int) -> int:
    """The driver-side twin of :func:`lsh_bucket` for a single query vector
    — same hyperplanes, same sign rule, same bit order. Every probe
    computation (in-memory ANN and the persisted index) MUST go through
    this one fold: a divergent copy would silently probe the wrong
    buckets."""
    qb = 0
    for p in range(num_planes):
        plane = _hyperplane(len(query), p, seed)
        s = sum(q * w for q, w in zip(query, plane))
        qb = qb * 2 + (1 if s > 0 else 0)
    return qb


def ann_topk_lsh(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    num_planes: int = 6,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket(s).

    Recall/latency knobs: ``num_planes`` (fewer planes → bigger buckets) and
    ``multiprobe`` — probe every bucket within Hamming distance ``multiprobe``
    of the query's bucket (the standard multi-probe LSH recall fix: a
    near-neighbor that lands a hair across ONE hyperplane differs in exactly
    one bucket bit, so probing 1-bit flips recovers most of the recall a
    single-bucket probe loses at a tiny extra scan cost). The bucket filter
    stays a pushed-down int IN-list over a precomputable column — at scale,
    persist ``lsh_bucket`` output partitioned by bucket and this becomes a
    partition-pruned scan of 1 + Σ C(planes, i) partitions."""
    dim = len(query)
    bucketed = lsh_bucket(df, dim, num_planes, seed, vec_col)
    qb = lsh_query_bucket(query, num_planes, seed)
    probes = {qb}
    frontier = {qb}
    for _ in range(max(0, multiprobe)):
        frontier = {b ^ (1 << j) for b in frontier for j in range(num_planes)}
        probes |= frontier
    qc = F.array(*[F.lit(float(x)) for x in query])
    bucket_pred = (
        F.col("bucket") == qb
        if len(probes) == 1
        else F.col("bucket").isin(*sorted(probes))
    )
    return (
        bucketed.filter(bucket_pred)
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), qc), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_centroids_by_id(
    df: DataFrame,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic coarse-quantizer codebook: the vectors with the
    ``n_centroids`` smallest ids. A seeded k-means would give tighter cells;
    id-order selection is reproducible in ANY engine (the correctness-gate
    oracle re-derives the same codebook in SQL), and IVF recall/cost
    tradeoffs are codebook-agnostic."""
    return (
        df.orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    )


def ivf_assign_df(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid (argmax 6dp-rounded cosine,
    ties → smallest cid). One broadcast cross join (N×C rows, C tiny) folded
    by a single ``max_by`` hash aggregate — no per-vector window shuffle.
    At scale, write the output partitioned by ``centroid_id`` so probes scan
    only nprobe partitions."""
    scored = df.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cid"),
        F.round(cosine(F.col(vec_col), F.col("cv")), 6).alias("__s"),
    )
    return scored.groupBy(id_col).agg(
        F.max_by("cid", F.struct(F.col("__s"), (-F.col("cid")).alias("nc"))).alias(
            "centroid_id"
        ),
        F.first(vec_col).alias(vec_col),
    )


def ivf_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k: score only vectors assigned to the ``nprobe``
    centroids nearest the query. The recall/latency knob is nprobe; with
    nprobe = n_centroids this is exhaustive. Driver touches only the C
    centroid rows (collected to pick probe cells); everything else is one
    broadcast join + pruned scan shape."""
    # r7 note: two "obvious" optimizations were tried and REJECTED on
    # measurement — (a) collecting the codebook and re-planning it as a
    # local relation (broadcasting a driver-created relation measured
    # SLOWER than re-running the tiny scan+TakeOrdered subplan: first run
    # 4.5 s vs 2.4 s, steady-state 1.3 s vs 1.1 s at sf0.1), and (b)
    # driver-side probe picks (already the shape of the persisted-index
    # path, ``ann_index.query_ivf_index``, which IS the serving tier). The
    # in-memory operator keeps the plan-native form.
    cents = ivf_centroids_by_id(df, n_centroids, vec_col, id_col)
    qc = F.array(*[F.lit(float(x)) for x in query])
    probe_cids = [
        r["cid"]
        for r in cents.select(
            "cid", F.round(cosine(F.col("cv"), qc), 6).alias("s")
        )
        .orderBy(F.col("s").desc(), F.col("cid").asc())
        .limit(nprobe)
        .collect()
    ]
    assigned = ivf_assign_df(df, cents, vec_col, id_col)
    return (
        assigned.filter(F.col("centroid_id").isin(probe_cids))
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), qc), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    (argmax cosine). Centroids are plan-time literals (an offline k-means or
    hash-seeded sample); at scale write the output partitioned by
    ``centroid_id`` so probes scan only nprobe partitions."""
    best_id, best_score = F.lit(-1), F.lit(-2.0)
    for i, c in enumerate(centroids):
        cc = F.array(*[F.lit(float(x)) for x in c])
        s = cosine(F.col(vec_col), cc)
        better = s > best_score
        best_id = F.when(better, F.lit(i)).otherwise(best_id)
        best_score = F.when(better, s).otherwise(best_score)
    return df.withColumn("centroid_id", best_id)


# --------------------------------------------------------------- batched ANN
# Per-query APIs above take ONE literal query vector — right for ad-hoc
# lookups, wrong for offline scoring of many queries (Q driver round-trips,
# Q bucket/assignment recomputations). The *_batch forms take the queries AS
# A DATAFRAME (qid, qvec) and answer all of them in one job: queries are
# broadcast (tiny side), the corpus side stays a pruned scan + one shuffle
# by qid for the per-query top-k. No reference counterpart (no vector ops
# in cdm-data-loader-utils); this is the recall-measurement and
# batch-serving surface for the ANN family.

def cosine_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Exact top-k per query, all queries in one job — the oracle for
    recall@k and the documented batched-offline-scoring shape (one
    broadcast crossJoin stage; N×Q scored rows, then a qid-partitioned
    top-k). Returns (qid, vec_id, score, rank)."""
    from pyspark.sql.window import Window

    # narrow to the two query columns: queries are naturally derived from
    # the corpus, and stray vec_id/embedding columns would make the
    # post-join references ambiguous
    scored = df.crossJoin(
        F.broadcast(queries.select(qid_col, qvec_col))
    ).select(
        F.col(qid_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(qvec_col)), 6).alias("score"),
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _probe_masks(num_planes: int, multiprobe: int) -> list[int]:
    """All XOR masks within Hamming distance ``multiprobe`` of a bucket —
    driver-enumerated literals (C(planes, ≤m) values, tiny)."""
    return sorted(
        m for m in range(1 << num_planes)
        if bin(m).count("1") <= max(0, multiprobe)
    )


def ann_topk_lsh_batch(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 6,
    seed: int = 42,
    multiprobe: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """LSH approximate top-k for a DataFrame of queries in one job.

    Both sides are bucketed with the SAME plan-time hyperplanes as
    :func:`lsh_bucket`; each query explodes into its multi-probe bucket set
    (XOR-mask literals), and the corpus joins the broadcast probe list on
    bucket equality — each corpus vector lives in exactly one bucket and
    probe buckets are distinct, so no post-join dedup is needed. At scale
    with the corpus persisted partitioned by ``bucket``, the join is a
    partition-pruned scan of the probed buckets only. Returns
    (qid, vec_id, score, rank)."""
    from pyspark.sql.window import Window

    bucketed = lsh_bucket(df, dim, num_planes, seed, vec_col)
    qb = lsh_bucket(
        queries.select(F.col(qid_col), F.col(qvec_col)),
        dim, num_planes, seed, vec_col=qvec_col,
    ).withColumnRenamed("bucket", "__qbucket")
    masks = F.array(*[
        F.lit(m) for m in _probe_masks(num_planes, multiprobe)
    ])
    probes = qb.select(
        F.col(qid_col), F.col(qvec_col), F.col("__qbucket"),
        F.explode(masks).alias("__mask"),  # generator needs its own projection
    ).select(
        F.col(qid_col), F.col(qvec_col),
        F.col("__qbucket").bitwiseXOR(F.col("__mask")).alias("__probe"),
    )
    scored = bucketed.join(
        F.broadcast(probes), F.col("bucket") == F.col("__probe")
    ).select(
        F.col(qid_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(qvec_col)), 6).alias("score"),
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """IVF approximate top-k for a DataFrame of queries in one job: the
    vector-to-cell assignment is computed ONCE (vs once per query in
    :func:`ivf_topk`), each query picks its ``nprobe`` nearest cells via a
    broadcast Q×C join (no driver collect), and the corpus joins the
    broadcast (qid, cell) probe list. At scale with the assignment persisted
    partitioned by ``centroid_id`` this scans only the probed cells.
    Returns (qid, vec_id, score, rank)."""
    from pyspark.sql.window import Window

    cents = ivf_centroids_by_id(df, n_centroids, vec_col, id_col)
    # narrow to the query columns (same ambiguity defense as the other
    # batch forms — queries often carry leftover corpus columns)
    queries = queries.select(qid_col, qvec_col)
    qs = queries.crossJoin(F.broadcast(cents)).select(
        F.col(qid_col), F.col(qvec_col), F.col("cid"),
        F.round(cosine(F.col(qvec_col), F.col("cv")), 6).alias("__s"),
    )
    wq = Window.partitionBy(qid_col).orderBy(
        F.col("__s").desc(), F.col("cid").asc()
    )
    probes = (
        qs.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select(F.col(qid_col), F.col(qvec_col), F.col("cid"))
    )
    assigned = ivf_assign_df(df, cents, vec_col, id_col)
    scored = assigned.join(
        F.broadcast(probes), F.col("centroid_id") == F.col("cid")
    ).select(
        F.col(qid_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(qvec_col)), 6).alias("score"),
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int = 10,
    qid_col: str = "qid",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the exact
    one (both in the (qid, vec_id, rank) shape the batch operators emit).
    Returns (qid, hits, recall). The number a user tuning the
    recall/latency knobs (planes/multiprobe, nprobe) actually needs."""
    e = exact.filter(F.col("rank") <= k).select(qid_col, id_col)
    a = approx.filter(F.col("rank") <= k).select(qid_col, id_col)
    hits = a.join(e, [qid_col, id_col]).groupBy(qid_col).agg(
        F.count("*").alias("hits")
    )
    return (
        e.groupBy(qid_col).agg(F.count("*").alias("__n"))
        .join(hits, qid_col, "left")
        .select(
            F.col(qid_col),
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)) / F.col("__n"), 4
            ).alias("recall"),
        )
    )

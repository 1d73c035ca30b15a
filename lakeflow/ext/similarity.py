"""Similarity search over the `embeddings` table (X3): brute-force
cosine top-k baseline + LSH-bucketed approximate variant.

Scale design:
- Brute force broadcasts the (small) query set against the corpus —
  a map-side crossJoin with per-partition top-k pushed into a window;
  the corpus never shuffles except for the final tiny top-k exchange.
- The ANN path buckets vectors by sign-LSH (hyperplane-free: sign bits
  of leading dimensions — deterministic, no RNG) and only searches
  matching buckets (+optionally neighbors): the 100 TB shape where the
  candidate set per query is O(corpus/2^bits).
- Dot products run through built-in higher-order functions
  (zip_with + aggregate), JVM-side; similarities are left-fold double
  sums — deterministic per (query, candidate) pair.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf

from lakeflow import io

# A caller-shared coarse quantizer: the built (centroids, lists) pair,
# or a zero-arg callable resolving to it (a pending concurrent build —
# consumers with independent eager work of their own overlap it).
_CoarseArg = (
    tuple[DataFrame, DataFrame] | Callable[[], tuple[DataFrame, DataFrame]] | None
)


def _cos_batch_fn(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched cosine: numpy einsum over the whole batch. Module
    level so the pd.Series type hints resolve under deferred
    annotations; wrapped with pandas_udf lazily (the decorator needs an
    active session to parse the return type)."""
    A = np.stack(a.to_numpy())
    B = np.stack(b.to_numpy())
    num = np.einsum("ij,ij->i", A, B)
    den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    return pd.Series(num / den)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared per-query top-k tail: deterministic ranking (cosine desc,
    vec_id asc tiebreak) over a (q_id, vec_id, cosine) frame."""
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", "cosine", "rnk")
        .orderBy("q_id", "rnk")
    )


def _dvec(col: str) -> F.Column:
    """array<float> → array<double> (accumulate in double both engines)."""
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a: F.Column | str, b: F.Column | str) -> F.Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(dot: F.Column, na: F.Column, nb: F.Column) -> F.Column:
    """dot/(|a||b|) with zero-norm safety: try_divide yields NULL for a
    zero vector exactly as DuckDB's double division does — Spark ANSI
    would otherwise ABORT the whole job on the first degenerate row
    (found by the embeddings fuzz gate, tests/test_oracle_fuzz.py)."""
    return F.try_divide(dot, na * nb)


def _norm(a: F.Column | str) -> F.Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def _vector_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table as (vec_id, v, nv): each vector widened to
    array<double> and its L2 norm. Norms are per-VECTOR quantities, so
    they are computed once in this projection, never per compared pair
    (per-pair norms would triple the flops of a crossJoin at scale)."""
    return (
        io.read_table(spark, sf_dir, "embeddings")
        .select("vec_id", _dvec("embedding").alias("v"))
        .select("vec_id", "v", _norm("v").alias("nv"))
    )


def embed_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector L2 norms + dimension — embedding-column sanity profile."""
    emb = io.read_table(spark, sf_dir, "embeddings")
    v = _dvec("embedding")
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(_norm(v), 6).alias("l2_norm"),
    ).orderBy("vec_id")


EMBED_NORMS_SQL = """
SELECT vec_id, label,
       CAST(len(embedding) AS INTEGER) AS dim,
       round(sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6) AS l2_norm
FROM embeddings ORDER BY vec_id
"""


def knn_bruteforce(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    query_mod: int = 100,
    corpus_mod: int = 1,
) -> DataFrame:
    """Exact cosine top-k: query set = vec_id % query_mod == 0.

    Broadcast the small query side; cosine via zip_with/aggregate;
    row_number window per query for top-k. Rounded to 6dp with vec_id
    tiebreak → deterministic result set.

    This is the O(|queries|·|corpus|) ground-truth recall baseline for
    the four ANN paths (LSH/IVF/SQ8/PQ) — intentionally quadratic.
    ``corpus_mod > 1`` caps the blast radius for large-SF sweeps by
    scanning only the deterministic ``vec_id % corpus_mod == 0`` corpus
    slice (the same pinned-modulus sampling the PQ ``train_mod`` knob
    uses), so a recall measurement at sf10+ never pays the measured
    147 s full-corpus scan (SCALE.md). The registered default
    (corpus_mod=1) preserves the certified full-corpus output.
    """
    emb = _vector_frame(spark, sf_dir)
    if corpus_mod > 1:
        emb = emb.filter(F.col("vec_id") % corpus_mod == 0)
    queries = emb.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )
    pairs = emb.join(broadcast(queries), F.col("vec_id") != F.col("q_id"))
    cos = _cosine(_dot("qv", "v"), F.col("nq"), F.col("nv"))
    return _topk(
        pairs.select("q_id", "vec_id", F.round(cos, 6).alias("cosine")), k
    )


KNN_BRUTEFORCE_SQL = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), q AS (
    SELECT vec_id AS q_id, v AS qv FROM v WHERE vec_id % 100 = 0
), scored AS (
    SELECT q.q_id, v.vec_id,
           round(
             list_aggregate(list_transform(list_zip(q.qv, v.v), p -> p[1] * p[2]), 'sum')
             / (sqrt(list_aggregate(list_transform(q.qv, x -> x*x), 'sum'))
                * sqrt(list_aggregate(list_transform(v.v, x -> x*x), 'sum'))),
             6) AS cosine
    FROM q JOIN v ON v.vec_id != q.q_id
)
SELECT q_id, vec_id, cosine,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rnk
FROM scored
QUALIFY rnk <= 5
ORDER BY q_id, rnk
"""


def _sign_bucket(v: F.Column, bits: int) -> F.Column:
    """Deterministic LSH bucket: sign bits of the first `bits` dims."""
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    return F.aggregate(
        idx,
        F.lit(0).cast("int"),
        lambda acc, i: acc * 2
        + F.when(F.element_at(v, i + 1) >= 0, 1).otherwise(0),
    )


def knn_lsh(
    spark: SparkSession, sf_dir: str, k: int = 5, query_mod: int = 100, bits: int = 4
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to the query's
    sign-LSH bucket. Recall is checked against knn_bruteforce in tests.
    The bucketing is hyperplane-free (sign bits of the leading dims) and
    therefore fully deterministic — KNN_LSH_SQL replays the exact
    bucket assignment, candidate set, and ranking in DuckDB, so this
    APPROXIMATE query still carries an exact oracle."""
    emb = _vector_frame(spark, sf_dir)
    emb = emb.withColumn("bucket", _sign_bucket(F.col("v"), bits))
    queries = emb.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("nv").alias("nq"), F.col("bucket"),
    )
    pairs = emb.join(broadcast(queries), ["bucket"]).filter(
        F.col("vec_id") != F.col("q_id")
    )
    cos = _cosine(_dot("qv", "v"), F.col("nq"), F.col("nv"))
    return _topk(
        pairs.select("q_id", "vec_id", F.round(cos, 6).alias("cosine")), k
    )


KNN_LSH_SQL = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), b AS (
    SELECT vec_id, v,
           (CASE WHEN v[1] >= 0 THEN 8 ELSE 0 END)
         + (CASE WHEN v[2] >= 0 THEN 4 ELSE 0 END)
         + (CASE WHEN v[3] >= 0 THEN 2 ELSE 0 END)
         + (CASE WHEN v[4] >= 0 THEN 1 ELSE 0 END) AS bucket
    FROM v
), q AS (
    SELECT vec_id AS q_id, v AS qv, bucket FROM b WHERE vec_id % 100 = 0
), scored AS (
    SELECT q.q_id, b.vec_id,
           round(
             list_aggregate(list_transform(list_zip(q.qv, b.v), p -> p[1] * p[2]), 'sum')
             / (sqrt(list_aggregate(list_transform(q.qv, x -> x*x), 'sum'))
                * sqrt(list_aggregate(list_transform(b.v, x -> x*x), 'sum'))),
             6) AS cosine
    FROM q JOIN b USING (bucket)
    WHERE b.vec_id != q.q_id
)
SELECT q_id, vec_id, cosine,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rnk
FROM scored
QUALIFY rnk <= 5
ORDER BY q_id, rnk
"""


def knn_bruteforce_pandas(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    query_mod: int = 100,
    corpus_mod: int = 1,
) -> DataFrame:
    """Arrow-vectorized twin of knn_bruteforce: cosine via a scalar
    pandas_udf (numpy batch einsum) instead of zip_with/aggregate.

    The JVM higher-order-function path wins when vectors are short and
    the pipeline stays in codegen; the Arrow path wins when per-row
    work is heavy enough to amortize the Python transfer — this is the
    pattern a real embedding pipeline (larger dims, numpy/BLAS) runs.
    Carries the brute-force DuckDB oracle: numpy's float64 pairwise
    summation and the JVM left-fold agree at the 6dp rounding on this
    data (verified at sf0.01 and sf0.1; a last-digit flip would need a
    cosine within ~1e-13 of a 5e-7 rounding boundary).

    ``corpus_mod``: same large-SF blast-radius cap as
    :func:`knn_bruteforce` (default 1 = certified full corpus).
    """
    emb = io.read_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v")
    )
    if corpus_mod > 1:
        emb = emb.filter(F.col("vec_id") % corpus_mod == 0)
    queries = emb.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    pairs = emb.join(broadcast(queries), F.col("vec_id") != F.col("q_id"))
    return _topk(
        pairs.select(
            "q_id",
            "vec_id",
            F.round(pandas_udf(_cos_batch_fn, "double")("qv", "v"), 6).alias("cosine"),
        ),
        k,
    )


def _sq_dist(a: F.Column | str, b: F.Column | str) -> F.Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def _nearest_lists(vecs: DataFrame, cent: DataFrame, vec_col: str, n: int) -> DataFrame:
    """Rank centroid lists per vector by squared distance; keep top-n.
    Input vecs must have a unique ``vec_id``; cent has (list_id, cv).
    The distance is rounded to 6dp before ranking so the argmin is
    REPLAYABLE across engines (shuffle-order float drift ~1e-13 can
    never flip a comparison; genuine sub-5e-7 ties fall to the
    deterministic list_id tiebreak in both).

    n=1 (the full-corpus assignment — every Lloyd round, every inverted
    -list build) runs as a partial-aggregable ``min(struct(_d,
    list_id))`` groupBy instead of a row_number window (r12, guide
    §2.3 "aggregate before you shuffle"): the broadcast cross-join
    keeps all |cent| candidate rows of a vector in one scan partition,
    so the map-side partial min collapses N·|cent| rows to N BEFORE
    the exchange — the window form shuffled the whole cross-join.
    ``min(struct)`` is lexicographic (_d, then list_id): exactly the
    window's ORDER BY _d, list_id rank-1 row. ``first()`` over the
    passthrough columns is value-deterministic — every row of a
    vec_id group carries that vector's own columns."""
    d = vecs.crossJoin(broadcast(cent)).withColumn(
        "_d", F.round(_sq_dist(vec_col, "cv"), 6)
    )
    if n == 1:
        others = [c for c in vecs.columns if c != "vec_id"]
        return (
            d.groupBy("vec_id")
            .agg(
                F.min(F.struct("_d", "list_id")).alias("_b"),
                *[F.first(c).alias(c) for c in others],
            )
            # same column order the window form produced
            .select(*vecs.columns, F.col("_b.list_id").alias("list_id"))
        )
    w = Window.partitionBy("vec_id").orderBy("_d", "list_id")
    return (
        d.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n)
        .drop("_d", "_r", "cv")
    )


def _materialize_tiny(df: DataFrame) -> DataFrame:
    """Materialize a BOUNDED-size relation (size set by index parameters
    — n_lists or m_sub·ks rows — never by corpus size) and re-emit it as
    a driver-local literal (LocalRelation).

    Used at the end of each PQ Lloyd round (r12): the codebook's
    downstream consumers (next round's assignment join, the full-corpus
    encode, the query distance tables) broadcast a LocalRelation for
    free — no scan stage, no checkpoint-block round trips. Values are
    bit-identical: collect()/createDataFrame round-trip IEEE doubles
    exactly, and every downstream comparison was already quenched to
    6/9 dp. (In :func:`kmeans_centroids` the same swap measured SLOWER
    than the lazy localCheckpoint — see that docstring — so it is
    applied only where the extra consumers repay the blocking collect.)
    """
    spark = df.sparkSession
    return spark.createDataFrame(df.collect(), df.schema)


def kmeans_centroids(emb: DataFrame, n_lists: int, lloyd_iters: int) -> DataFrame:
    """Deterministic distributed k-means centroids (list_id, cv):
    seeds = first ``n_lists`` vectors by vec_id (no RNG), Lloyd rounds
    as DataFrame ops — assignment via broadcast centroid cross-join +
    window argmin, update via posexplode → per-(list, dim) mean →
    array reassembly. Only the tiny centroid relation crosses stages.
    Shared by :func:`knn_ivf` and the IVF near-dup edge generator.

    (Two r12 alternatives were measured and REVERTED on interleaved
    A/B at sf0.1 — this form stays the fastest: (a) map-only argmin
    against literal centroids, 3.67 s vs 2.46 s — the interpreted
    higher-order-function distances all land in the scan stage's single
    task; (b) per-round collect → LocalRelation, 3.46 s vs 2.46 s —
    the blocking driver round trip costs more than the lazy
    checkpoint.)"""
    w_seed = Window.orderBy("vec_id")
    cent = (
        emb.orderBy("vec_id")
        .limit(n_lists)
        .select("v", F.row_number().over(w_seed).alias("list_id"))
        .select("list_id", F.col("v").alias("cv"))
    )
    for _ in range(lloyd_iters):
        assigned = _nearest_lists(emb, cent, "v", 1)
        cent = (
            assigned.select("list_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("list_id", "pos")
            # 9dp-rounded means: quenches partition-order float drift
            # (~1e-15 rel.) so downstream 6dp distance rounding sees
            # bit-identical centroids in any engine — the k-means
            # becomes exactly replayable (KNN_IVF_SQL) at zero cost to
            # index quality
            .agg(F.round(F.avg("x"), 9).alias("m"))
            .groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("list_id", F.transform("pm", lambda s: s["m"]).alias("cv"))
            # Materialize per round (tiny: n_lists rows). Without this,
            # every downstream reference — round r+1's assignment, the
            # inverted-list build, AND the query probes — replays the
            # whole Lloyd chain from the seeds: knn_ivf references the
            # final centroids twice, so the full-corpus assignment ran
            # 2×rounds more than needed (VERDICT r5 #7; solo median at
            # sf0.1: 3.18 s → 2.37 s with this line). Lazy: the next
            # action materializes it, no extra job.
            .localCheckpoint(eager=False)
        )
    return cent


def knn_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    query_mod: int = 100,
    n_lists: int = 8,
    nprobe: int = 4,
    lloyd_iters: int = 2,
    _coarse: _CoarseArg = None,
) -> DataFrame:
    """IVF-flat ANN: k-means inverted lists, queries probe the nprobe
    nearest lists — the centroid-partitioned scale path beside the
    sign-LSH variant (knn_lsh).

    Fully distributed and deterministic:
    - seeds = first n_lists vectors by vec_id (no RNG),
    - Lloyd refinement as DataFrame ops: assignment via broadcast
      centroid cross-join + window argmin; update via posexplode →
      per-(list, dim) mean → array_sort/transform reassembly. No
      driver-side loops over data — only the tiny centroid relation
      moves between stages, which is how this runs at 100 TB.
    - probing: candidates = queries' nprobe nearest lists bucket-joined
      against the inverted lists (corpus touched ∝ nprobe/n_lists).

    Approximate vs the brute-force baseline (recall floor asserted in
    tests) but EXACTLY replayable: assignment distances are 6dp-rounded
    with a list_id tiebreak and centroid means 9dp-rounded, so the
    whole index build is deterministic across engines — KNN_IVF_SQL
    replays seeds, both Lloyd rounds, probing, and ranking in DuckDB.
    """
    emb = _vector_frame(spark, sf_dir)
    if _coarse is None:
        cent = kmeans_centroids(emb, n_lists, lloyd_iters)
        lists = _nearest_lists(emb, cent, "v", 1)  # inverted index
    else:
        # identical deterministic build, computed once by the caller
        # (ann_recall shares one coarse quantizer across the IVF-family
        # methods — r12, guide §1.2 "don't compute things twice");
        # a callable is a pending build resolved here (knn_ivf has no
        # independent eager work to overlap it with, so it just waits)
        cent, lists = _coarse() if callable(_coarse) else _coarse
    queries = emb.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )
    probes = _nearest_lists(
        queries.withColumnRenamed("q_id", "vec_id"), cent, "qv", nprobe
    ).withColumnRenamed("vec_id", "q_id")
    cand = probes.join(lists, "list_id").filter(F.col("vec_id") != F.col("q_id"))
    cos = _cosine(_dot("qv", "v"), F.col("nq"), F.col("nv"))
    return _topk(
        cand.select("q_id", "vec_id", F.round(cos, 6).alias("cosine")), k
    )


_SQD = (
    "round(list_aggregate(list_transform(list_zip({a}, c.cv), "
    "p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), 6)"
)


def _ivf_index_sql(n_lists: int, lloyd_iters: int) -> str:
    """Shared DuckDB replay of the deterministic k-means index build
    (:func:`kmeans_centroids` + the final assignment): seeds, the
    unrolled Lloyd rounds, and the ``lists`` inverted index. Every
    comparison the Spark side makes on rounded values is made on the
    identically-rounded values here; CTEs are MATERIALIZED because each
    round references its predecessor several times (inlining would
    re-run the whole prefix exponentially). Consumed by
    :func:`_knn_ivf_sql` (probe tail) and :func:`_semdedup_sql`
    (within-cluster dedup tail)."""
    sqd = _SQD
    parts = [
        f"""
WITH v0 AS MATERIALIZED (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), emb AS MATERIALIZED (
    SELECT vec_id, v,
           sqrt(list_aggregate(list_transform(v, x -> x*x), 'sum')) AS nv
    FROM v0
), cent0 AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY vec_id) AS list_id, v AS cv
    FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {n_lists})
)"""
    ]
    for i in range(1, lloyd_iters + 1):
        parts.append(
            f""", assign{i} AS MATERIALIZED (
    SELECT vec_id, list_id FROM (
        SELECT e.vec_id, c.list_id,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {sqd.format(a="e.v")}, c.list_id) AS r
        FROM emb e CROSS JOIN cent{i - 1} c
    ) WHERE r = 1
), cent{i} AS MATERIALIZED (
    SELECT list_id, list(m ORDER BY pos) AS cv
    FROM (
        SELECT a.list_id, t.pos, round(avg(e.v[t.pos]), 9) AS m
        FROM assign{i} a JOIN emb e USING (vec_id)
        CROSS JOIN generate_series(1, 64) t(pos)
        WHERE t.pos <= len(e.v)
        GROUP BY a.list_id, t.pos
    ) GROUP BY list_id
)"""
        )
    L = lloyd_iters
    parts.append(
        f""", lists AS MATERIALIZED (
    SELECT vec_id, list_id FROM (
        SELECT e.vec_id, c.list_id,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {sqd.format(a="e.v")}, c.list_id) AS r
        FROM emb e CROSS JOIN cent{L} c
    ) WHERE r = 1
)"""
    )
    return "".join(parts)


def _knn_ivf_sql(
    k: int = 5,
    query_mod: int = 100,
    n_lists: int = 8,
    nprobe: int = 4,
    lloyd_iters: int = 2,
) -> str:
    """DuckDB twin of :func:`knn_ivf`: shared index-build replay
    (:func:`_ivf_index_sql`) + the probe/rank tail."""
    sqd = _SQD
    L = lloyd_iters
    return _ivf_index_sql(n_lists, lloyd_iters) + (
        f""", queries AS MATERIALIZED (
    SELECT vec_id AS q_id, v AS qv, nv AS nq
    FROM emb WHERE vec_id % {query_mod} = 0
), probes AS MATERIALIZED (
    SELECT q_id, list_id FROM (
        SELECT q.q_id, c.list_id,
               row_number() OVER (PARTITION BY q.q_id
                   ORDER BY {sqd.format(a="q.qv")}, c.list_id) AS r
        FROM queries q CROSS JOIN cent{L} c
    ) WHERE r <= {nprobe}
), scored AS (
    SELECT p.q_id, l.vec_id,
           round(list_aggregate(list_transform(list_zip(q.qv, e.v), p -> p[1] * p[2]), 'sum')
                 / (q.nq * e.nv), 6) AS cosine
    FROM probes p JOIN lists l USING (list_id)
    JOIN queries q ON q.q_id = p.q_id
    JOIN emb e ON e.vec_id = l.vec_id
    WHERE l.vec_id != p.q_id
)
SELECT q_id, vec_id, cosine, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT q_id, vec_id, cosine,
           row_number() OVER (PARTITION BY q_id
               ORDER BY cosine DESC, vec_id) AS rnk
    FROM scored
) WHERE rnk <= {k}
ORDER BY q_id, rnk
"""
    )


KNN_IVF_SQL = _knn_ivf_sql()


def semdedup(
    spark: SparkSession,
    sf_dir: str,
    n_lists: int = 8,
    lloyd_iters: int = 2,
    tau: float = 0.4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    space with the deterministic k-means index (:func:`kmeans_centroids`
    — same seeds/rounding as :func:`knn_ivf`), then compare vectors
    ONLY within their cluster and drop every vector that has a
    higher-similarity-than-``tau`` twin with a smaller vec_id (greedy
    keep-first — the deterministic stand-in for the paper's
    keep-one-per-duplicate-group rule). After Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication" (2023), which is exactly this shape: k-means
    partitions make the O(n²) cosine comparison tractable because it
    runs per-cluster, never corpus-wide.

    Returns one row per embedding: (vec_id, list_id, dropped, dup_of,
    max_cos) where dup_of/max_cos identify the best smaller-id twin
    (NULL for kept rows). Downstream joins `dropped = false` against
    the training corpus; keeping rejected rows makes it an audit table
    (same convention as the curation funnel).

    100 TB design: the only quadratic term is Σ|cluster|² and k is a
    free parameter — size n_lists ∝ N/target_cluster_size and the
    per-cluster work stays bounded while the build itself is the
    all-DataFrame k-means (broadcast centroids, no driver data loops).
    The within-cluster self-join shuffles on list_id once; vectors
    never broadcast. Reference parity note: the reference has no ANN/
    semantic-dedup surface at all (SURVEY §2 X-ops are the LLM-pipeline
    extension); this composes the certified k-means with the certified
    cosine machinery.
    """
    emb = _vector_frame(spark, sf_dir)
    cent = kmeans_centroids(emb, n_lists, lloyd_iters)
    # The cluster assignment is referenced THREE times (both sides of
    # the within-cluster pair join + the final audit select); without
    # materialization each reference replays the full-corpus
    # assignment. Same lazy localCheckpoint as the Lloyd rounds — at
    # cluster scale this is the "write the assignment table once"
    # step of the SemDeDup recipe. (No measurable delta at the test
    # SFs — the cached local scan hides the recompute — the saved work
    # is two extra corpus scans' worth only at real scale.)
    lists = _nearest_lists(emb, cent, "v", 1).localCheckpoint(eager=False)
    a = lists.select(
        "list_id",
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("nv").alias("na"),
    )
    b = lists.select(
        "list_id",
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
        F.col("nv").alias("nb"),
    )
    pairs = (
        a.join(b, "list_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "b_id",
            "a_id",
            F.round(_cosine(_dot("av", "bv"), F.col("na"), F.col("nb")), 6).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") > tau)
    )
    w = Window.partitionBy("b_id").orderBy(F.desc("cosine"), F.asc("a_id"))
    best = (
        pairs.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(
            "b_id",
            F.col("a_id").alias("dup_of"),
            F.col("cosine").alias("max_cos"),
        )
    )
    return (
        lists.select("vec_id", "list_id")
        .join(best, lists["vec_id"] == best["b_id"], "left")
        .select(
            "vec_id",
            "list_id",
            F.col("dup_of").isNotNull().alias("dropped"),
            "dup_of",
            "max_cos",
        )
    )


def _semdedup_sql(n_lists: int = 8, lloyd_iters: int = 2, tau: float = 0.4) -> str:
    """DuckDB twin of :func:`semdedup`: shared index-build replay +
    within-cluster pair/greedy-drop tail. Same 6dp cosine rounding and
    (cosine DESC, a_id) best-match tiebreak, so the decision table is
    bit-identical."""
    return _ivf_index_sql(n_lists, lloyd_iters) + (
        f""", pairs AS (
    SELECT lb.vec_id AS b_id, la.vec_id AS a_id,
           round(list_aggregate(list_transform(list_zip(ea.v, eb.v), p -> p[1] * p[2]), 'sum')
                 / nullif(ea.nv * eb.nv, 0), 6) AS cosine
    FROM lists la JOIN lists lb USING (list_id)
    JOIN emb ea ON ea.vec_id = la.vec_id
    JOIN emb eb ON eb.vec_id = lb.vec_id
    WHERE la.vec_id < lb.vec_id
), hits AS (
    SELECT b_id, a_id, cosine FROM pairs WHERE cosine > {tau}
), best AS (
    SELECT b_id, a_id AS dup_of, cosine AS max_cos FROM (
        SELECT b_id, a_id, cosine,
               row_number() OVER (PARTITION BY b_id
                   ORDER BY cosine DESC, a_id) AS r
        FROM hits
    ) WHERE r = 1
)
SELECT l.vec_id, l.list_id,
       best.dup_of IS NOT NULL AS dropped,
       best.dup_of, best.max_cos
FROM lists l LEFT JOIN best ON best.b_id = l.vec_id
"""
    )


SEMDEDUP_SQL = _semdedup_sql()


def knn_sq8(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    query_mod: int = 100,
    rerank: int = 3,
) -> DataFrame:
    """Scalar-quantized (int8) ANN with exact rerank — the
    memory-bandwidth scale path beside the bucketed ones (knn_lsh /
    knn_ivf): stage 1 scans ONLY the 4×-compressed int8 vectors and
    keeps ``k·rerank`` candidates per query by quantized cosine;
    stage 2 re-scores just those candidates at full precision. At
    100 TB the stage-1 scan is the whole cost and it reads a quarter
    of the bytes; the full-precision vectors are touched only for the
    candidate set (broadcast join on the tiny (q_id, vec_id) list).

    Exactly replayable across engines by construction: the
    quantization scale is max|x|/127 in raw double IEEE arithmetic,
    q_i = floor(x_i/scale + 0.5) (explicit half-up — round()'s half
    mode differs between engines; floor(+0.5) does not), so the int8
    codes are bit-identical; quantized dot products are exact integer
    sums; both ranking cuts use 6dp rounding + vec_id tiebreak. A
    zero vector has scale 0 → codes coalesce to 0 → NULL quantized
    cosine, sorting last in both engines.
    """
    m = k * rerank
    emb = _vector_frame(spark, sf_dir)
    # scale as its own column: referencing array_max inside the
    # per-element lambda would re-run the O(d) max per element (O(d²))
    qemb = (
        emb.withColumn(
            "_s", F.array_max(F.transform("v", F.abs)) / F.lit(127.0)
        )
        .withColumn(
            "q",
            F.transform(
                "v",
                lambda x: F.coalesce(
                    F.floor(F.try_divide(x, F.col("_s")) + F.lit(0.5)),
                    F.lit(0),
                ).cast("int"),
            ),
        )
        .withColumn(
            "qn",
            F.sqrt(
                F.aggregate(
                    F.transform("q", lambda x: (x * x).cast("double")),
                    F.lit(0.0),
                    lambda s, x: s + x,
                )
            ),
        )
    )
    codes = qemb.select("vec_id", "q", "qn")  # stage-1 frame: int8 only
    queries_q = codes.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qq"), F.col("qn").alias("nq")
    )
    qdot = F.aggregate(
        F.zip_with("qq", "q", lambda x, y: x.cast("bigint") * y),
        F.lit(0).cast("bigint"),
        lambda s, x: s + x,
    )
    approx = F.round(
        F.try_divide(qdot.cast("double"), F.col("nq") * F.col("qn")), 6
    )
    w1 = Window.partitionBy("q_id").orderBy(F.desc("approx_cos"), F.asc("vec_id"))
    cand = (
        codes.join(broadcast(queries_q), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", approx.alias("approx_cos"))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= m)
        .select("q_id", "vec_id", "approx_cos")
    )
    exact = emb.select("vec_id", "v", "nv")
    queries_x = exact.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )
    scored = (
        exact.join(broadcast(cand), "vec_id")
        .join(broadcast(queries_x), "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(_cosine(_dot("qv", "v"), F.col("nq"), F.col("nv")), 6).alias(
                "cosine"
            ),
            "approx_cos",
        )
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", "cosine", "approx_cos", "rnk")
        .orderBy("q_id", "rnk")
    )


KNN_SQ8_SQL = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), z AS (
    SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
    FROM v
), c AS (
    SELECT vec_id, v,
           list_transform(v, x -> CAST(coalesce(floor(x / nullif(s, 0) + 0.5), 0) AS INTEGER)) AS q
    FROM z
), codes AS (
    SELECT vec_id, v, q,
           sqrt(list_aggregate(list_transform(q, x -> CAST(x * x AS DOUBLE)), 'sum')) AS qn
    FROM c
), queries AS (
    SELECT vec_id AS q_id, v AS qv, q AS qq, qn AS nq FROM codes WHERE vec_id % 100 = 0
), approx AS (
    SELECT qs.q_id, e.vec_id,
           round(CAST(list_aggregate(
                     list_transform(list_zip(qs.qq, e.q), p -> CAST(p[1] AS BIGINT) * p[2]),
                     'sum') AS DOUBLE)
                 / (qs.nq * e.qn), 6) AS approx_cos
    FROM queries qs JOIN codes e ON e.vec_id != qs.q_id
), cand AS (
    SELECT q_id, vec_id, approx_cos FROM (
        SELECT q_id, vec_id, approx_cos,
               row_number() OVER (PARTITION BY q_id ORDER BY approx_cos DESC, vec_id) AS r
        FROM approx
    ) WHERE r <= 15
), exact AS (
    SELECT cd.q_id, cd.vec_id, cd.approx_cos,
           round(list_aggregate(list_transform(list_zip(qs.qv, e.v), p -> p[1] * p[2]), 'sum')
                 / (sqrt(list_aggregate(list_transform(qs.qv, x -> x*x), 'sum'))
                    * sqrt(list_aggregate(list_transform(e.v, x -> x*x), 'sum'))), 6) AS cosine
    FROM cand cd
    JOIN codes e ON e.vec_id = cd.vec_id
    JOIN queries qs ON qs.q_id = cd.q_id
)
SELECT q_id, vec_id, cosine, approx_cos,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rnk
FROM exact
QUALIFY rnk <= 5
ORDER BY q_id, rnk
"""


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid + dispersion — the class-prototype
    computation of a training pipeline (same posexplode → per-(label,
    dim) mean → array reassembly shape the IVF centroid update uses,
    here surfaced and oracle-checked).

    One shuffle keyed (label, dim) with map-side partial averaging; the
    reassembled centroid relation is |labels| rows. At 100 TB dims are
    the fan-out factor (n_rows × dim exploded rows), which is why the
    partial aggregate matters: the exchange carries only
    (label, dim, sum, count)."""
    emb = io.read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dvec("embedding").alias("v")
    )
    per_dim = (
        emb.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.avg("x").alias("m"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"),
        )
        .select(
            "label",
            "n_vectors",
            F.round(_norm(F.transform("pm", lambda s: s["m"])), 6).alias(
                "centroid_norm"
            ),
            F.size("pm").alias("dim"),
        )
        .orderBy("label")
    )


LABEL_CENTROIDS_SQL = """
WITH ex AS (
    -- this DuckDB build has neither WITH ORDINALITY nor lateral/
    -- subquery generate_series params; the driver embeddings are
    -- 64-dim at every SF (guarded by pos <= len for ragged safety)
    SELECT label, t.pos, CAST(embedding[t.pos] AS DOUBLE) AS x
    FROM embeddings CROSS JOIN generate_series(1, 64) AS t(pos)
    WHERE t.pos <= len(embedding)
), per_dim AS (
    SELECT label, pos, AVG(x) AS m, COUNT(*) AS n
    FROM ex GROUP BY label, pos
)
SELECT label,
       MAX(n) AS n_vectors,
       round(sqrt(SUM(m * m)), 6) AS centroid_norm,
       CAST(COUNT(*) AS INTEGER) AS dim
FROM per_dim GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------------------
# Product-quantization ANN (r6)
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (64-dim vectors → 8 dims each)
PQ_KS = 8  # codes per subspace codebook


def _subvectors(df: DataFrame, id_col: str, m_sub: int, dsub: int) -> DataFrame:
    """(id, sub_id, sv): each vector split into ``m_sub`` contiguous
    ``dsub``-dim subvectors — the PQ decomposition, as one posexplode
    (map-only; sub_id is 0-based)."""
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m_sub - 1)),
                lambda j: F.slice("v", j * dsub + 1, dsub),
            )
        ).alias("sub_id", "sv"),
    )


def _pq_assign(sub: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest codebook entry per (vector, subspace): broadcast the
    (sub_id, code, cv) codebook, argmin on the 6dp-rounded squared
    distance with a code tiebreak — replayable (same certification as
    the IVF assignment). Runs as a partial-aggregable ``min(struct(_d,
    code))`` groupBy (r12, guide §2.3 — see :func:`_nearest_lists`):
    the map-side partial min collapses the N·m_sub·ks joined rows to
    N·m_sub before the exchange; the former row_number window shuffled
    them all (~1M rows / 10² MB at sf0.1's ks=64 shape)."""
    d = sub.join(broadcast(cent), "sub_id").withColumn(
        "_d", F.round(_sq_dist("sv", "cv"), 6)
    )
    return (
        d.groupBy("vec_id", "sub_id")
        .agg(
            F.min(F.struct("_d", "code")).alias("_b"),
            F.first("sv").alias("sv"),
        )
        .select("vec_id", "sub_id", "sv", F.col("_b.code").alias("code"))
    )


def pq_codebooks(
    emb: DataFrame, m_sub: int, dsub: int, ks: int, lloyd_iters: int
) -> tuple[DataFrame, DataFrame]:
    """Deterministic per-subspace k-means codebooks — all ``m_sub``
    k-means runs execute SIMULTANEOUSLY as one relational flow keyed by
    sub_id (seeds = the first ``ks`` vectors' subvectors, Lloyd update
    = per-(sub_id, code, pos) mean), so the build is one shuffle per
    Lloyd round REGARDLESS of m_sub — not m_sub sequential jobs.
    Returns (codebook, subvector frame). The returned codebook is a
    driver-local literal (r12, see :func:`_materialize_tiny`):
    downstream broadcasts (encode join, distance tables) cost no job.

    (A fully map-only literal-argmin round was tried and REVERTED in
    r12: with ks=64 the 512 interpreted higher-order-function distance
    evaluations per row ran ~5× slower than the broadcast join —
    measured 51 s vs 14 s per build at sf0.1.)"""
    sub = _subvectors(emb, "vec_id", m_sub, dsub)
    w_seed = Window.orderBy("vec_id")
    seed = (
        emb.orderBy("vec_id")
        .limit(ks)
        .select("vec_id", F.row_number().over(w_seed).alias("code"))
    )
    cent = sub.join(broadcast(seed), "vec_id").select(
        "sub_id", "code", F.col("sv").alias("cv")
    )
    for _ in range(lloyd_iters):
        assigned = _pq_assign(sub, cent)
        cent = (
            assigned.select("sub_id", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub_id", "code", "pos")
            # 9dp means / 6dp distances: the same drift-quenching pair
            # the IVF build certifies with (kmeans_centroids)
            .agg(F.round(F.avg("x"), 9).alias("m"))
            .groupBy("sub_id", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("sub_id", "code", F.transform("pm", lambda s: s["m"]).alias("cv"))
        )
        # tiny (m_sub × ks rows); materialize driver-side so the encode
        # + query-table consumers get a free-to-broadcast literal
        # instead of replaying (or re-reading a checkpoint of) the
        # Lloyd chain — see _materialize_tiny
        cent = _materialize_tiny(cent)
    return cent, sub


def _adc_rerank(
    adc: DataFrame, emb: DataFrame, queries: DataFrame, k: int, mcand: int
) -> DataFrame:
    """Shared PQ tail (:func:`knn_pq` / :func:`knn_ivfpq`): cut the ADC
    scores to ``mcand`` candidates per query (asc distance, vec_id
    tiebreak), then re-score only those at full precision and rank.
    ``queries`` is the (vec_id, v, nv) query frame; both the candidate
    and query relations are tiny by construction, so both rerank joins
    broadcast."""
    w1 = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    cand = (
        adc.withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= mcand)
        .select("q_id", "vec_id", "adc_dist")
    )
    queries_x = queries.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )
    scored = (
        emb.join(broadcast(cand), "vec_id")
        .join(broadcast(queries_x), "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(_cosine(_dot("qv", "v"), F.col("nq"), F.col("nv")), 6).alias(
                "cosine"
            ),
            "adc_dist",
        )
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", "cosine", "adc_dist", "rnk")
        .orderBy("q_id", "rnk")
    )


def knn_pq(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    query_mod: int = 100,
    m_sub: int = PQ_M,
    ks: int = PQ_KS,
    lloyd_iters: int = 2,
    rerank: int = 3,
    train_mod: int = 1,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, public) with exact
    rerank — the memory-compression scale path beside int8 SQ
    (knn_sq8): each vector is encoded as ``m_sub`` one-byte codes
    (64× compression here vs float32), and query-to-corpus distance is
    approximated by ADC (asymmetric distance computation) — the query
    precomputes its distance to every codebook entry (m_sub × ks
    values) and each corpus vector costs m_sub table lookups, never a
    float dot product.

    Plan shape at 100 TB: the codebook build touches the corpus
    ``lloyd_iters`` times but moves only the (m_sub × ks)-row codebook
    between stages; encoding is a broadcast join + window argmin (one
    shuffle); the ADC scan joins the byte codes against the TINY
    broadcast distance-table relation and partial-aggregates the
    per-(query, vector) sums map-side. Stage 2 re-scores only
    ``k·rerank`` candidates per query at full precision.

    Certification: assignment distances 6dp-rounded with code
    tiebreaks, centroid means 9dp-rounded (the proven IVF replay
    recipe), and the ADC partials are INTEGER micro-units
    (floor(d·1e6 + 0.5) — explicit half-up) so the per-candidate sum
    is order-free and exact; the oracle replays seeds, both Lloyd
    rounds, encoding, distance tables, and both ranking cuts.

    DEPLOYMENT NOTE (r8): this registered default scans EVERY corpus
    code per query — ADC makes each comparison cheap, not the scan
    sub-linear. Measured LINEAR in Nq·N at sf10 (714.9 s cold vs
    IVF-PQ's 46.3 s at matched answers — SCALE.md §20.2). It is the
    compressed-domain building block and recall baseline; the
    deployment path at any real scale is :func:`knn_ivfpq` /
    :func:`knn_ivfpq_hi`, whose coarse inverted lists prune the code
    scan to nprobe/n_lists of the corpus BEFORE any ADC arithmetic.
    """
    mcand = k * rerank
    dsub_default = 64 // m_sub
    emb = _vector_frame(spark, sf_dir)
    # train_mod > 1: codebooks train on a deterministic 1/train_mod
    # sample — the standard PQ deployment (codebooks need ~1e5 training
    # vectors REGARDLESS of corpus size; FAISS trains exactly this
    # way), making the Lloyd rounds O(N/train_mod) while encode/ADC
    # still cover the full corpus. Pinned modulus ⇒ still replayable
    # (the oracle generator takes the same train_mod). Registered
    # default trains on the full corpus (train_mod=1).
    train = emb if train_mod == 1 else emb.filter(
        F.col("vec_id") % train_mod == 0
    )
    cent, _ = pq_codebooks(train, m_sub, dsub_default, ks, lloyd_iters)
    sub = _subvectors(emb, "vec_id", m_sub, dsub_default)
    enc = _pq_assign(sub, cent).select("vec_id", "sub_id", "code")
    queries = emb.filter(F.col("vec_id") % query_mod == 0)
    qsub = _subvectors(queries, "vec_id", m_sub, dsub_default)
    # per-query distance table: m_sub × ks integer micro-distances
    dd = F.floor(_sq_dist("sv", "cv") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    dtab = qsub.join(broadcast(cent), "sub_id").select(
        F.col("vec_id").alias("q_id"), "sub_id", "code", dd.alias("dd")
    )
    adc = (
        enc.join(broadcast(dtab), ["sub_id", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg((F.sum("dd") / F.lit(1e6)).alias("adc_dist"))
    )
    return _adc_rerank(adc, emb, queries, k, mcand)


_PQ_SQD = (
    "round(list_aggregate(list_transform(list_zip({a}, c.cv), "
    "p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), 6)"
)


def _adc_tail_sql(k: int, rerank: int) -> str:
    """Shared DuckDB replay of :func:`_adc_rerank` — consumes the
    ``adc``, ``emb`` and ``queries`` CTEs of the surrounding statement
    (defined by both :func:`_knn_pq_sql` and :func:`_knn_ivfpq_sql`)."""
    return f""", cand AS (
    SELECT q_id, vec_id, adc_dist FROM (
        SELECT q_id, vec_id, adc_dist,
               row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS r
        FROM adc
    ) WHERE r <= {k * rerank}
), exact AS (
    SELECT cd.q_id, cd.vec_id, cd.adc_dist,
           round(list_aggregate(list_transform(list_zip(q.qv, e.v), p -> p[1] * p[2]), 'sum')
                 / (q.nq * e.nv), 6) AS cosine
    FROM cand cd
    JOIN emb e ON e.vec_id = cd.vec_id
    JOIN queries q ON q.q_id = cd.q_id
)
SELECT q_id, vec_id, cosine, adc_dist,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rnk
FROM exact
QUALIFY rnk <= {k}
ORDER BY q_id, rnk
"""


def _knn_pq_sql(
    k: int = 5,
    query_mod: int = 100,
    m_sub: int = PQ_M,
    ks: int = PQ_KS,
    lloyd_iters: int = 2,
    rerank: int = 3,
    train_mod: int = 1,
) -> str:
    """DuckDB twin of :func:`knn_pq`: the simultaneous per-subspace
    k-means replay (sub_id-keyed, Lloyd rounds unrolled — same
    structure as _ivf_index_sql), then encoding, integer-micro ADC,
    and both ranking cuts."""
    dsub = 64 // m_sub
    sqd = _PQ_SQD
    parts = [
        f"""
WITH v0 AS MATERIALIZED (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), emb AS MATERIALIZED (
    SELECT vec_id, v,
           sqrt(list_aggregate(list_transform(v, x -> x*x), 'sum')) AS nv
    FROM v0
), sub AS MATERIALIZED (
    SELECT vec_id, t.j AS sub_id, list_slice(v, t.j*{dsub}+1, t.j*{dsub}+{dsub}) AS sv
    FROM emb CROSS JOIN generate_series(0, {m_sub - 1}) t(j)
), tsub AS MATERIALIZED (
    SELECT * FROM sub WHERE vec_id % {train_mod} = 0
), seed AS MATERIALIZED (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS code
    FROM (SELECT vec_id FROM emb WHERE vec_id % {train_mod} = 0
          ORDER BY vec_id LIMIT {ks})
), cent0 AS MATERIALIZED (
    SELECT s.sub_id, sd.code, s.sv AS cv
    FROM tsub s JOIN seed sd USING (vec_id)
)"""
    ]
    for i in range(1, lloyd_iters + 1):
        parts.append(
            f""", assign{i} AS MATERIALIZED (
    SELECT vec_id, sub_id, sv, code FROM (
        SELECT s.vec_id, s.sub_id, s.sv, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.sub_id
                   ORDER BY {sqd.format(a="s.sv")}, c.code) AS r
        FROM tsub s JOIN cent{i - 1} c USING (sub_id)
    ) WHERE r = 1
), cent{i} AS MATERIALIZED (
    SELECT sub_id, code, list(m ORDER BY pos) AS cv
    FROM (
        SELECT a.sub_id, a.code, t.pos, round(avg(a.sv[t.pos]), 9) AS m
        FROM assign{i} a CROSS JOIN generate_series(1, {dsub}) t(pos)
        WHERE t.pos <= len(a.sv)
        GROUP BY a.sub_id, a.code, t.pos
    ) GROUP BY sub_id, code
)"""
        )
    L = lloyd_iters
    parts.append(
        f""", enc AS MATERIALIZED (
    SELECT vec_id, sub_id, code FROM (
        SELECT s.vec_id, s.sub_id, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.sub_id
                   ORDER BY {sqd.format(a="s.sv")}, c.code) AS r
        FROM sub s JOIN cent{L} c USING (sub_id)
    ) WHERE r = 1
), queries AS MATERIALIZED (
    SELECT vec_id AS q_id, v AS qv, nv AS nq FROM emb WHERE vec_id % {query_mod} = 0
), qsub AS MATERIALIZED (
    SELECT q_id, t.j AS sub_id, list_slice(qv, t.j*{dsub}+1, t.j*{dsub}+{dsub}) AS sv
    FROM queries CROSS JOIN generate_series(0, {m_sub - 1}) t(j)
), dtab AS MATERIALIZED (
    SELECT q.q_id, c.sub_id, c.code,
           CAST(floor(list_aggregate(list_transform(list_zip(q.sv, c.cv),
                    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') * 1000000 + 0.5) AS BIGINT) AS dd
    FROM qsub q JOIN cent{L} c USING (sub_id)
), adc AS MATERIALIZED (
    SELECT d.q_id, e.vec_id, SUM(d.dd) / 1000000.0 AS adc_dist
    FROM enc e JOIN dtab d ON d.sub_id = e.sub_id AND d.code = e.code
    WHERE e.vec_id != d.q_id
    GROUP BY d.q_id, e.vec_id
)"""
    )
    parts.append(_adc_tail_sql(k, rerank))
    return "".join(parts)


KNN_PQ_SQL = _knn_pq_sql()


# ---------------------------------------------------------------------------
# IVF-PQ ANN (r7): coarse pruning + compressed-domain scan
# ---------------------------------------------------------------------------


def knn_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    query_mod: int = 100,
    n_lists: int = 8,
    nprobe: int = 4,
    coarse_iters: int = 2,
    m_sub: int = PQ_M,
    ks: int = PQ_KS,
    pq_iters: int = 2,
    rerank: int = 3,
    train_mod: int = 1,
    _coarse: _CoarseArg = None,
) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFADC shape, Jégou et al. 2011 §IV):
    coarse k-means inverted lists prune the corpus to ``nprobe``
    probed lists per query, and the scan inside those lists runs in the
    compressed PQ domain (ADC lookups, never a float dot product),
    followed by an exact top-``k·rerank`` rerank.

    Composition of the two certified halves: the coarse quantizer is
    :func:`kmeans_centroids` + :func:`_nearest_lists` (exactly
    :func:`knn_ivf`'s index) and the fine codes are
    :func:`pq_codebooks` + :func:`_pq_assign` (exactly :func:`knn_pq`'s
    encoding, on the RAW vectors — FAISS ``by_residual=false``; raw
    coding keeps both halves' replay oracles untouched and composable).

    Why this beats pure PQ at scale: :func:`knn_pq`'s ADC scans all N
    codes per query; here the byte codes join the tiny broadcast probe
    relation FIRST, so only ~``nprobe/n_lists`` of the corpus codes are
    touched per query — sub-linear query cost at fixed recall, which is
    what a 100 TB corpus needs. The list assignment joins the codes once
    (vec_id-keyed, index-build time); everything query-side is broadcast
    (probes, distance tables, candidates) + one partial-aggregated ADC
    shuffle.

    Certification: both halves' determinism recipes compose — 6dp
    assignment distances with id tiebreaks, 9dp centroid means, integer
    micro-unit ADC partial sums — so the oracle replays the coarse
    build, the per-subspace codebooks, encoding, probing, restricted
    ADC, and both ranking cuts (KNN_IVFPQ_SQL).
    """
    mcand = k * rerank
    dsub = 64 // m_sub
    emb = _vector_frame(spark, sf_dir)
    train = emb if train_mod == 1 else emb.filter(F.col("vec_id") % train_mod == 0)
    if _coarse is None:
        # The coarse quantizer and the PQ codebooks are independent
        # eager builds (each runs blocking Lloyd-round jobs at
        # construction); overlap them (r12, guide §2.6) — results are
        # unchanged, both builds are deterministic.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        def _coarse_build():
            c = kmeans_centroids(emb, n_lists, coarse_iters)
            return c, _nearest_lists(emb, c, "v", 1).select("vec_id", "list_id")

        def _pq_build():
            return pq_codebooks(train, m_sub, dsub, ks, pq_iters)[0]

        with ThreadPoolExecutor(max_workers=2) as pool:
            coarse_f = pool.submit(inheritable_thread_target(spark)(_coarse_build))
            pq_f = pool.submit(inheritable_thread_target(spark)(_pq_build))
            (cent, lists), pcent = coarse_f.result(), pq_f.result()
    else:
        # per-subspace codebooks first — they are independent of the
        # coarse index, so when the caller hands a PENDING coarse build
        # (ann_recall's shared future, r12), this eager Lloyd loop
        # overlaps it instead of waiting on it
        pcent, _ = pq_codebooks(train, m_sub, dsub, ks, pq_iters)
        cent, lists = _coarse() if callable(_coarse) else _coarse
        lists = lists.select("vec_id", "list_id")
    sub = _subvectors(emb, "vec_id", m_sub, dsub)
    enc = _pq_assign(sub, pcent).select("vec_id", "sub_id", "code")
    # the IVFADC index: codes tagged with their coarse list (one
    # vec_id-keyed join at build time; at deployment this is the stored
    # index layout, not a per-query cost)
    enc_l = enc.join(lists, "vec_id")
    queries = emb.filter(F.col("vec_id") % query_mod == 0)
    probes = (
        _nearest_lists(
            queries.select(
                F.col("vec_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
            ),
            cent,
            "qv",
            nprobe,
        )
        .select(F.col("vec_id").alias("q_id"), "list_id")
    )
    qsub = _subvectors(queries, "vec_id", m_sub, dsub)
    dd = F.floor(_sq_dist("sv", "cv") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    dtab = qsub.join(broadcast(pcent), "sub_id").select(
        F.col("vec_id").alias("q_id"), "sub_id", "code", dd.alias("dd")
    )
    # restricted ADC: probe join FIRST (broadcast) prunes the code scan
    # to the probed lists, then the distance-table lookup + map-side
    # partial integer sums
    adc = (
        enc_l.join(broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(broadcast(dtab), ["q_id", "sub_id", "code"])
        .groupBy("q_id", "vec_id")
        .agg((F.sum("dd") / F.lit(1e6)).alias("adc_dist"))
    )
    return _adc_rerank(adc, emb, queries, k, mcand)


def _knn_ivfpq_sql(
    k: int = 5,
    query_mod: int = 100,
    n_lists: int = 8,
    nprobe: int = 4,
    coarse_iters: int = 2,
    m_sub: int = PQ_M,
    ks: int = PQ_KS,
    pq_iters: int = 2,
    rerank: int = 3,
    train_mod: int = 1,
) -> str:
    """DuckDB twin of :func:`knn_ivfpq`: the coarse index replay is
    :func:`_ivf_index_sql` VERBATIM (emb/cent{i}/lists CTEs), the PQ
    half re-emits :func:`_knn_pq_sql`'s codebook/encode CTEs under
    ``p``-prefixed names (pseed/pcent{i}/passign{i}) to avoid colliding
    with the coarse k-means CTEs, and the tail is the shared
    :func:`_adc_tail_sql` — structural composition of the two certified
    replays, no string surgery on rendered SQL."""
    dsub = 64 // m_sub
    sqd = _PQ_SQD
    L = coarse_iters
    parts = [_ivf_index_sql(n_lists, coarse_iters)]
    parts.append(
        f""", sub AS MATERIALIZED (
    SELECT vec_id, t.j AS sub_id, list_slice(v, t.j*{dsub}+1, t.j*{dsub}+{dsub}) AS sv
    FROM emb CROSS JOIN generate_series(0, {m_sub - 1}) t(j)
), tsub AS MATERIALIZED (
    SELECT * FROM sub WHERE vec_id % {train_mod} = 0
), pseed AS MATERIALIZED (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS code
    FROM (SELECT vec_id FROM emb WHERE vec_id % {train_mod} = 0
          ORDER BY vec_id LIMIT {ks})
), pcent0 AS MATERIALIZED (
    SELECT s.sub_id, sd.code, s.sv AS cv
    FROM tsub s JOIN pseed sd USING (vec_id)
)"""
    )
    for i in range(1, pq_iters + 1):
        parts.append(
            f""", passign{i} AS MATERIALIZED (
    SELECT vec_id, sub_id, sv, code FROM (
        SELECT s.vec_id, s.sub_id, s.sv, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.sub_id
                   ORDER BY {sqd.format(a="s.sv")}, c.code) AS r
        FROM tsub s JOIN pcent{i - 1} c USING (sub_id)
    ) WHERE r = 1
), pcent{i} AS MATERIALIZED (
    SELECT sub_id, code, list(m ORDER BY pos) AS cv
    FROM (
        SELECT a.sub_id, a.code, t.pos, round(avg(a.sv[t.pos]), 9) AS m
        FROM passign{i} a CROSS JOIN generate_series(1, {dsub}) t(pos)
        WHERE t.pos <= len(a.sv)
        GROUP BY a.sub_id, a.code, t.pos
    ) GROUP BY sub_id, code
)"""
        )
    P = pq_iters
    parts.append(
        f""", enc AS MATERIALIZED (
    SELECT vec_id, sub_id, code FROM (
        SELECT s.vec_id, s.sub_id, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.sub_id
                   ORDER BY {sqd.format(a="s.sv")}, c.code) AS r
        FROM sub s JOIN pcent{P} c USING (sub_id)
    ) WHERE r = 1
), encl AS MATERIALIZED (
    SELECT e.vec_id, e.sub_id, e.code, l.list_id
    FROM enc e JOIN lists l USING (vec_id)
), queries AS MATERIALIZED (
    SELECT vec_id AS q_id, v AS qv, nv AS nq FROM emb WHERE vec_id % {query_mod} = 0
), probes AS MATERIALIZED (
    SELECT q_id, list_id FROM (
        SELECT q.q_id, c.list_id,
               row_number() OVER (PARTITION BY q.q_id
                   ORDER BY {sqd.format(a="q.qv")}, c.list_id) AS r
        FROM queries q CROSS JOIN cent{L} c
    ) WHERE r <= {nprobe}
), qsub AS MATERIALIZED (
    SELECT q_id, t.j AS sub_id, list_slice(qv, t.j*{dsub}+1, t.j*{dsub}+{dsub}) AS sv
    FROM queries CROSS JOIN generate_series(0, {m_sub - 1}) t(j)
), dtab AS MATERIALIZED (
    SELECT q.q_id, c.sub_id, c.code,
           CAST(floor(list_aggregate(list_transform(list_zip(q.sv, c.cv),
                    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') * 1000000 + 0.5) AS BIGINT) AS dd
    FROM qsub q JOIN pcent{P} c USING (sub_id)
), adc AS MATERIALIZED (
    SELECT p.q_id, e.vec_id, SUM(d.dd) / 1000000.0 AS adc_dist
    FROM encl e
    JOIN probes p ON p.list_id = e.list_id
    JOIN dtab d ON d.q_id = p.q_id AND d.sub_id = e.sub_id AND d.code = e.code
    WHERE e.vec_id != p.q_id
    GROUP BY p.q_id, e.vec_id
)"""
    )
    parts.append(_adc_tail_sql(k, rerank))
    return "".join(parts)


KNN_IVFPQ_SQL = _knn_ivfpq_sql()

# the deployment-resolution twin's replay (hoisted above ANN_RECALL_SQL,
# which embeds it as the ivfpq_hi battery branch)
KNN_IVFPQ_HI_SQL = _knn_ivfpq_sql(ks=64, rerank=10, nprobe=6)


def ann_recall(
    spark: SparkSession, sf_dir: str, query_mod: int = 100
) -> DataFrame:
    """Recall@k certification of the ANN family against the exact
    brute-force ground truth — the "measure, don't guess" capstone for
    the similarity module: every approximate index in the repo
    (sign-LSH buckets, IVF inverted lists, SQ8 scalar quantization,
    IVF-PQ compressed-domain ADC at both the certification pin and the
    ks=64/rerank=10/nprobe=6 deployment resolution) is scored against
    :func:`knn_bruteforce` in ONE declarative plan, and the whole
    evaluation (ground truth, all five ANN pipelines, the recall join)
    replays in DuckDB (ANN_RECALL_SQL), so the recall numbers
    themselves are oracle-certified, not just eyeballed.

    Output: one row per method — pairs returned, ground-truth hits,
    ground-truth pairs, recall@k — the table a 100 TB deployment reads
    before picking its index (together with the measured latency
    decades in SCALE.md). All parameters are the registered defaults of
    the underlying queries so each sub-pipeline is byte-identical to
    its own certified registry entry.

    Scale shape: the five ANN plans and the brute-force plan each keep
    their own certified scale story; everything downstream of them is
    top-k-sized (n_queries·k rows per method), so the recall join and
    the per-method aggregate are broadcast-small regardless of corpus
    size.

    ``query_mod`` is the big-SF sweep lever (VERDICT r7 #8): the
    ground truth's O(Nq·N) scan is the harness's dominant cost, and
    Nq = N/query_mod, so raising it thins the QUERY sample — recall
    stays an unbiased estimate over fewer queries, unlike capping the
    CORPUS side (corpus_mod), which would change what every index is
    allowed to return and demand the same cap inside all five ANN
    pipelines. The registered default (100) is the certified shape.
    """
    from pyspark import StorageLevel

    # the ground truth feeds both the recall join and the gt_pairs
    # total; persisting the TINY (n_queries·k)-row frame keeps the
    # brute-force scan — the evaluation's dominant cost — to exactly
    # one pass (without it, Catalyst re-derives the whole O(Nq·N)
    # pipeline for the 1-row count aggregate)
    gt = knn_bruteforce(spark, sf_dir, query_mod=query_mod).select(
        "q_id", "vec_id", F.lit(1).alias("hit")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # One coarse quantizer for the whole IVF family (r12): ivf, ivfpq
    # and ivfpq_hi all build the IDENTICAL deterministic
    # kmeans_centroids(emb, 8, 2) index + full-corpus inverted lists —
    # inside this one evaluation, build it once and share the handle.
    # The per-invocation localCheckpoint materializes the corpus
    # assignment once instead of three times; values are unchanged (the
    # build is exactly replayable by construction, so sharing equals
    # recomputing). The methods' own registered entries still build
    # their index per call.
    emb = _vector_frame(spark, sf_dir)
    def _coarse_build() -> tuple[DataFrame, DataFrame]:
        cent = kmeans_centroids(emb, 8, 2)
        lists = _nearest_lists(emb, cent, "v", 1).localCheckpoint(eager=False)
        return cent, lists

    # Build the five method pipelines CONCURRENTLY (r12, guide §2.6
    # "overlap independent jobs"): each eager index build (Lloyd
    # rounds, PQ codebooks, checkpoints) blocks the driver while the
    # cluster idles through its job tail; the builds are mutually
    # independent, so a small thread pool lets the scheduler back-fill.
    # The shared coarse quantizer is ALSO a pool task (r12, second
    # pass): the PQ-codebook Lloyd loops of ivfpq/ivfpq_hi do not
    # depend on it, so handing the IVF-family methods the pending
    # future (resolved inside each worker, after its own independent
    # eager work) overlaps the ~2 s coarse build under the ~4 s PQ
    # builds instead of running it serially before the pool. (The gt
    # persist deliberately stays LAZY here: pre-materializing it in the
    # pool was measured a ~0.4 s win but flips the cached subtree to
    # its finalized AQE printout, which double-counts exchanges in the
    # plan-budget gate and churns the committed plan dump — not worth
    # it.) Results are unchanged — every build is deterministic and
    # shared-equals-recomputed; the union below consumes the futures
    # in the fixed ``methods`` order.
    from concurrent.futures import ThreadPoolExecutor
    from functools import partial

    from pyspark.util import inheritable_thread_target

    @inheritable_thread_target(spark)
    def _build(pair):
        name, fn = pair
        return fn(spark, sf_dir, query_mod=query_mod).select(
            F.lit(name).alias("method"), "q_id", "vec_id"
        )

    try:
        # five method builds plus the coarse quantizer
        with ThreadPoolExecutor(max_workers=6) as pool:
            # the IVF-family workers resolve this pending build
            coarse = pool.submit(
                inheritable_thread_target(spark)(_coarse_build)
            ).result
            methods = [
                ("ivf", partial(knn_ivf, _coarse=coarse)),
                ("ivfpq", partial(knn_ivfpq, _coarse=coarse)),
                # the deployment-resolution twin (ks=64/rerank=10/nprobe=6):
                # with it in the battery, the deployment shape's recall is an
                # oracle-certified number, not a SCALE.md probe measurement
                ("ivfpq_hi", partial(knn_ivfpq_hi, _coarse=coarse)),
                ("lsh", knn_lsh),
                ("sq8", knn_sq8),
            ]
            parts = list(pool.map(_build, methods))
    except BaseException:
        gt.unpersist()  # the returned plan would have owned it
        raise
    tagged = None
    for part in parts:
        tagged = part if tagged is None else tagged.unionByName(part)
    total = gt.agg(F.count("*").alias("gt_pairs"))
    per = (
        tagged.join(broadcast(gt), ["q_id", "vec_id"], "left")
        .groupBy("method")
        .agg(
            F.count("*").alias("returned_pairs"),
            F.count("hit").alias("hits"),
        )
    )
    return (
        per.crossJoin(broadcast(total))
        .select(
            "method",
            "returned_pairs",
            "hits",
            "gt_pairs",
            F.round(F.col("hits") / F.col("gt_pairs"), 6).alias("recall_at_k"),
        )
        .orderBy("method")
    )


def _with_query_mod(sql: str, query_mod: int) -> str:
    """Re-pin the query-sample modulus of a literal replay. The three
    string-literal twins hardcode the registered default (``% 100``);
    this swaps it without an f-string conversion (asserted unique so a
    second occurrence could never be silently missed)."""
    assert sql.count("% 100 = 0") == 1
    return sql.replace("% 100 = 0", f"% {query_mod} = 0")


def _ann_recall_sql(query_mod: int = 100) -> str:
    """DuckDB twin of :func:`ann_recall` — structural composition of
    the five certified replays (each inlined as a parenthesized
    subquery, so their CTE namespaces stay scoped and cannot collide),
    with the same COUNT-based hit accounting (COUNT(g.q_id) keeps
    BIGINT on both engines; SUM would widen to HUGEINT in DuckDB).
    ``query_mod`` re-pins every sub-pipeline's query sample in one
    place (the big-SF lever, VERDICT r7 #8 / r8 #8)."""
    return f"""
WITH gt AS MATERIALIZED (
    SELECT q_id, vec_id FROM ({_with_query_mod(KNN_BRUTEFORCE_SQL, query_mod)})
), ann AS MATERIALIZED (
    SELECT 'ivf' AS method, q_id, vec_id FROM ({_knn_ivf_sql(query_mod=query_mod)})
    UNION ALL
    SELECT 'ivfpq' AS method, q_id, vec_id FROM ({_knn_ivfpq_sql(query_mod=query_mod)})
    UNION ALL
    SELECT 'ivfpq_hi' AS method, q_id, vec_id FROM ({_knn_ivfpq_sql(query_mod=query_mod, ks=64, rerank=10, nprobe=6)})
    UNION ALL
    SELECT 'lsh' AS method, q_id, vec_id FROM ({_with_query_mod(KNN_LSH_SQL, query_mod)})
    UNION ALL
    SELECT 'sq8' AS method, q_id, vec_id FROM ({_with_query_mod(KNN_SQ8_SQL, query_mod)})
), tot AS (
    SELECT COUNT(*) AS gt_pairs FROM gt
)
SELECT a.method,
       COUNT(*) AS returned_pairs,
       COUNT(g.q_id) AS hits,
       t.gt_pairs,
       ROUND(CAST(COUNT(g.q_id) AS DOUBLE) / t.gt_pairs, 6) AS recall_at_k
FROM ann a
LEFT JOIN gt g ON g.q_id = a.q_id AND g.vec_id = a.vec_id
CROSS JOIN tot t
GROUP BY a.method, t.gt_pairs
ORDER BY method
"""


ANN_RECALL_SQL = _ann_recall_sql()

#: Sub-quadratic deployment shape of the recall harness (r9, VERDICT
#: r8 #8): query_mod=1000 thins the QUERY sample 10x, cutting the
#: ground truth's O(Nq*N) scan — the harness's dominant cost — 10x
#: while recall stays an unbiased estimate over fewer queries
#: (measured at sf1: 130.3 s vs 16.5 s sf0.1 warm, SCALE.md §21.2).
#: Registered so the big-SF shape is oracle-certified, not a probe.
ANN_RECALL_SCALED_QUERY_MOD = 1000
ANN_RECALL_SCALED_SQL = _ann_recall_sql(ANN_RECALL_SCALED_QUERY_MOD)


def ann_recall_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`ann_recall` at the big-SF query sample (see
    ANN_RECALL_SCALED_SQL)."""
    return ann_recall(spark, sf_dir, query_mod=ANN_RECALL_SCALED_QUERY_MOD)


def knn_ivfpq_hi(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = 100,
    _coarse: _CoarseArg = None,
) -> DataFrame:
    """Deployment-resolution IVF-PQ (SCALE.md §20.4): the registered
    default pins ks=8 codebooks for oracle-replay economy and pays for
    it in recall (0.058 at sf1); this twin carries the measured remedy
    — ks=64 subspace codebooks (6-bit codes), rerank=10, nprobe=6 —
    at ~7× the default's recall (0.414 at sf1), still fully
    oracle-replayed: the codebook CTEs just grow to ks rows per
    subspace. Registered so the driver certifies the deployment shape,
    not only the certification pin."""
    return knn_ivfpq(
        spark, sf_dir, query_mod=query_mod, ks=64, rerank=10, nprobe=6,
        _coarse=_coarse,
    )

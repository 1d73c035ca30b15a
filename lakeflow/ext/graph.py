"""Graph analytics over the near-duplicate similarity graph.

The dedup pipeline's pair list IS a graph; these operators are the
standard follow-on analyses a curation pipeline runs on it: degree
distribution (how blobby is the near-dup structure — the input to
choosing cluster-collapse policy) and triangle counting (local
clustering density; triangle-rich regions are template/boilerplate
families rather than chance collisions).

Edges come from the same generators the dedup family uses
(`lakeflow.ext.dedup`). The DEFAULT edge source is the banded-LSH
block-then-verify join (dedup.embedding_near_dups_lsh) — the 100 TB
shape: no corpus broadcast, no O(n²) pair join (VERDICT r3 finding
#2). Its tuned per-pair recall (~0.98 at the threshold) measurably
shifts triangle/degree COUNTS (49 vs 53 triangles at sf0.001) —
that approximation is the accepted trade, because at scale the exact
all-pairs edge list is unobtainable anyway: approximate-but-computable
beats exact-but-impossible. The exact all-pairs twin survives behind
``edge_source="exact"`` strictly as the small-SF oracle path (the
registered ``*_exact`` query names), and tolerance tests pin the LSH
counts against it at test SF.

Scale shapes:
- degree distribution: explode each undirected edge into both
  directions ONCE, two partial-aggregable groupBys — no joins.
- triangle count: the canonical oriented-edge join-join. Edges are
  oriented low-id -> high-id so each triangle is counted exactly once.
  Both joins key on edge endpoints (evenly distributed ids); at scale
  the refinement is degree-based orientation (low-degree -> high-degree
  endpoint), which bounds every join fan-out by the max LOW-degree —
  the standard mitigation when hub nodes appear. Same plan shape, so
  it slots in without changing the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeflow.ext import dedup


def _edges(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    edge_source: str,
    bits: int | None = None,
    bands: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    if edge_source == "lsh":
        pairs = dedup.embedding_near_dups_lsh(
            spark, sf_dir, threshold, bits=bits, bands=bands,
            bucket_cap=bucket_cap,
        )
    elif edge_source == "exact":
        pairs = dedup.embedding_near_dups(spark, sf_dir, threshold)
    else:
        raise ValueError(f"edge_source must be lsh|exact, got {edge_source!r}")
    return pairs.select(F.col("vec_a").alias("s"), F.col("vec_b").alias("d"))


def degree_distribution(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    edge_source: str = "lsh",
    bits: int | None = None,
    bands: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Degree histogram of the near-dup graph: (degree, node count).

    ``bucket_cap`` (opt-in, deployment knob — see SCALE.md §16/§20.3)
    passes through to the LSH edge generator; certification paths
    leave it None so the oracle banding replay is untouched."""
    e = _edges(spark, sf_dir, threshold, edge_source, bits, bands, bucket_cap)
    # Degrees only need the ENDPOINT multiset, not oriented rows: one
    # explode pass emits both endpoints per edge, where the former
    # self-union-with-swap executed the whole edge-generator subtree
    # twice (no ReusedExchange across the branches, and — unlike
    # pagerank/kcore, whose loops retain the oriented frame — nothing
    # here justifies a persist). Row-identical: each edge contributes
    # exactly one row per endpoint in both forms (r12, guide §2.4).
    und = e.select(F.explode(F.array("s", "d")).alias("s"))
    deg = und.groupBy("s").agg(F.count("*").cast("int").alias("degree"))
    return (
        deg.groupBy("degree").agg(F.count("*").alias("nodes")).orderBy("degree")
    )


DEGREE_DIST_SQL = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), n AS (
    SELECT vec_id, v, sqrt(list_aggregate(list_transform(v, x -> x*x), 'sum')) AS nv FROM v
), e AS (
    SELECT a.vec_id AS s, b.vec_id AS d
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_aggregate(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), 'sum')
                / (a.nv * b.nv), 6) >= 0.3
), und AS (SELECT s, d FROM e UNION ALL SELECT d, s FROM e)
SELECT degree, CAST(count(*) AS BIGINT) AS nodes FROM (
    SELECT s, CAST(count(*) AS INTEGER) AS degree FROM und GROUP BY s
) GROUP BY degree ORDER BY degree
"""


def triangle_count(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    edge_source: str = "lsh",
    bits: int | None = None,
    bands: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Total triangles in the near-dup graph (single-row result).

    Oriented-edge two-join: e1(s,d) ⋈ e2 on e2.s = e1.d ⋈ e3 on
    (e3.s, e3.d) = (e1.s, e2.d). The edge list is persisted once and
    reused by all three legs (CacheManager shares the generator's
    block-then-verify subtree)."""
    e = _edges(
        spark, sf_dir, threshold, edge_source, bits, bands, bucket_cap
    ).persist()
    try:
        e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
        tri = (
            e1.join(e2, F.col("e2.s") == F.col("e1.d"))
            .join(
                e3,
                (F.col("e3.s") == F.col("e1.s")) & (F.col("e3.d") == F.col("e2.d")),
            )
            .agg(F.count("*").alias("triangles"))
        )
        # materialize while the edge cache is alive
        tri = tri.localCheckpoint(eager=True)
    finally:
        e.unpersist()
    return tri


TRIANGLES_SQL = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), n AS (
    SELECT vec_id, v, sqrt(list_aggregate(list_transform(v, x -> x*x), 'sum')) AS nv FROM v
), e AS (
    SELECT a.vec_id AS s, b.vec_id AS d
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_aggregate(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), 'sum')
                / (a.nv * b.nv), 6) >= 0.3
)
SELECT CAST(count(*) AS BIGINT) AS triangles FROM e e1
JOIN e e2 ON e2.s = e1.d
JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d
"""


# LSH-edge oracles (r5): with PORTABLE hyperplanes (dedup._lsh_cte —
# md5→Box-Muller, bit-identical across engines) the DuckDB twin
# replays the banding itself, so the registered LSH-default graph
# queries certify exactly — both engines miss the same borderline
# pairs by construction. Pinned (bits=4, bands=29) = the n-free tuning
# for t=0.3, identical to the footer-adaptive default at every
# certification SF.
from lakeflow.ext.dedup import _lsh_cte as _lsh_cte_sql  # noqa: E402

DEGREE_DIST_LSH_SQL = f"""
WITH {_lsh_cte_sql(0.3, 4, 29, 7)},
e AS (SELECT vec_a AS s, vec_b AS d FROM pairs),
und AS (SELECT s, d FROM e UNION ALL SELECT d, s FROM e)
SELECT degree, CAST(count(*) AS BIGINT) AS nodes FROM (
    SELECT s, CAST(count(*) AS INTEGER) AS degree FROM und GROUP BY s
) GROUP BY degree ORDER BY degree
"""

TRIANGLES_LSH_SQL = f"""
WITH {_lsh_cte_sql(0.3, 4, 29, 7)},
e AS (SELECT vec_a AS s, vec_b AS d FROM pairs)
SELECT CAST(count(*) AS BIGINT) AS triangles FROM e e1
JOIN e e2 ON e2.s = e1.d
JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d
"""


# ---------------------------------------------------------------------------
# PageRank over the near-dup graph (r7)
# ---------------------------------------------------------------------------

PR_DAMPING = 0.85
PR_ITERS = 3
PR_TOP = 20


def pagerank(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
    top: int = PR_TOP,
    edge_source: str = "lsh",
    bits: int | None = None,
    bands: int | None = None,
    bucket_cap: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Bounded-iteration PageRank over the near-dup similarity graph —
    the centrality ranking a curation pipeline reads to find the
    template/boilerplate hubs its degree histogram only hints at
    (a high-PageRank doc is near-duplicated by docs that are
    themselves widely near-duplicated: the root of a template family).

    The certified iterative-algorithm pattern (BPE / IVF / PCA)
    applied to graph propagation: per round, each node's outgoing
    contribution r/deg is quantized to integer NANO-units
    (floor(x·1e9 + 0.5)) BEFORE the per-target sum — an order-free
    integer reduction — and the updated rank is 9dp-rounded, so every
    round is bit-identical across engines and PAGERANK_SQL replays the
    whole loop UNROLLED into chained CTEs. Undirected edges walk both
    directions; every edge endpoint has ≥1 in-edge, so no dangling
    mass term is needed.

    Scale shape: state per round is one (node, rank) frame —
    node-count-sized, shuffled once per round on the edge key, the
    canonical distributed PageRank plan. ``localCheckpoint`` truncates
    each round's lineage exactly as the k-means loops do;
    iterations are a fixed small constant (ranking stabilizes long
    before convergence matters for hub TRIAGE, and certification needs
    a pinned loop count).
    """
    e = _edges(spark, sf_dir, threshold, edge_source, bits, bands, bucket_cap)
    und = e.unionAll(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).persist()
    deg = und.groupBy("s").agg(F.count("*").alias("deg")).persist()
    try:
        nn = deg.agg(F.count("*").alias("n"))
        base = F.lit(1.0 - damping)
        ranks = deg.join(F.broadcast(nn)).select(
            "s", (F.lit(1.0) / F.col("n")).alias("r")
        )
        for _ in range(iters):
            contrib = (
                und.join(ranks, "s")
                .join(deg, "s")
                .select(
                    F.col("d"),
                    F.floor(F.col("r") / F.col("deg") * F.lit(1e9) + F.lit(0.5))
                    .cast("bigint")
                    .alias("ci"),
                )
            )
            ranks = (
                contrib.groupBy("d")
                .agg(F.sum("ci").alias("si"))
                .join(F.broadcast(nn))
                .select(
                    F.col("d").alias("s"),
                    F.round(
                        base / F.col("n")
                        + F.lit(damping) * (F.col("si") / F.lit(1e9)),
                        9,
                    ).alias("r"),
                )
                .localCheckpoint(eager=False)
            )
        out = (
            ranks.join(deg, "s")
            .select(
                F.col("s").alias("vec_id"),
                F.col("deg").cast("bigint").alias("degree"),
                F.col("r").alias("pagerank"),
            )
            .orderBy(F.desc("pagerank"), F.asc("vec_id"))
            .limit(top)
        )
        if not materialize:
            # plan-inspection path (ADVICE r7 #1): the eager checkpoint
            # below truncates the physical plan to a checkpoint scan — 0
            # visible Exchanges — so the shuffle-budget gate could never
            # see an added shuffle, and merely CONSTRUCTING the query
            # executed the whole job. The lazy twin keeps the full
            # composed plan (persists stay in place; they are idempotent)
            # for gen_plan_budget/test_plan_budget, which consult
            # registry.PLAN_VARIANTS.
            return out
        # materialize while the edge/degree caches are alive
        return out.localCheckpoint(eager=True)
    finally:
        if materialize:
            und.unpersist()
            deg.unpersist()


def _pagerank_sql(
    threshold: float = 0.3,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
    top: int = PR_TOP,
    bucket_cap: int | None = None,
) -> str:
    """DuckDB twin: the LSH banding replay (shared `_lsh_cte`) plus the
    rank loop unrolled into one CTE pair per round — identical
    nano-unit quantization, identical 9dp rounding. ``bucket_cap``
    replays the Spark side's occupancy filter inside the banding CTE
    (the q_curation_audit_capped QUALIFY pattern), so the capped
    deployment twin certifies against an oracle that drops the same
    over-cap buckets by construction."""
    parts = [
        f"WITH {_lsh_cte_sql(threshold, 4, 29, 7, bucket_cap)},",
        """
e AS (SELECT vec_a AS s, vec_b AS d FROM pairs),
und AS (SELECT s, d FROM e UNION ALL SELECT d, s FROM e),
deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY s),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
r0 AS (SELECT s, CAST(1.0 AS DOUBLE) / n AS r FROM deg CROSS JOIN nn)""",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
c{t} AS (
    SELECT u.d,
           SUM(CAST(floor(r.r / dg.deg * 1000000000.0 + 0.5) AS BIGINT)) AS si
    FROM und u JOIN r{t - 1} r ON r.s = u.s JOIN deg dg ON dg.s = u.s
    GROUP BY u.d
), r{t} AS (
    SELECT c{t}.d AS s,
           round({1.0 - damping!r} / n + {damping!r} * (si / 1000000000.0), 9) AS r
    FROM c{t} CROSS JOIN nn
)"""
        )
    parts.append(
        f"""
SELECT r.s AS vec_id, dg.deg AS degree, r.r AS pagerank
FROM r{iters} r JOIN deg dg ON dg.s = r.s
ORDER BY pagerank DESC, vec_id
LIMIT {top}"""
    )
    return "".join(parts)


PAGERANK_SQL = _pagerank_sql()


KCORE_K = 3
KCORE_ROUNDS = 5


def kcore(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
    edge_source: str = "lsh",
    bits: int | None = None,
    bands: int | None = None,
    bucket_cap: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Bounded k-core peeling over the near-dup graph — the density
    filter between the degree histogram (how blobby?) and PageRank
    (which hubs?): the k-core is what survives repeatedly deleting
    nodes of degree < k, so it isolates the dense template/boilerplate
    REGIONS that single-node degree can't see (a node with 3 neighbors
    that each have 3 neighbors is template tissue; a chance collision
    chain peels away). Returns one row per peeling round:
    (round, nodes_kept, edges_kept) — the curve a curation pipeline
    reads to size its template-removal pass.

    Same certified-iterative-loop pattern as PageRank/BPE: a FIXED
    small round count (peeling stabilizes in a few rounds at these
    densities, and certification needs a pinned loop), pure integer
    state, loop UNROLLED into the DuckDB oracle's chained CTEs. Per
    round the state is one degree aggregate (node-sized) and two
    semi joins keyed on edge endpoints — the same one-shuffle-per-
    round-per-key plan class as the rank loop; ``localCheckpoint``
    truncates lineage so round R's plan doesn't replay rounds 1..R-1.
    """
    e = _edges(spark, sf_dir, threshold, edge_source, bits, bands, bucket_cap)
    cached = []  # per-call throwaway caches, released after materialize
    cur = e.unionAll(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).persist()
    cached.append(cur)
    try:
        stats = []
        for t in range(1, rounds + 1):
            deg = cur.groupBy("s").agg(F.count("*").alias("deg"))
            keep = deg.filter(F.col("deg") >= k).select("s").persist()
            cached.append(keep)
            cur = (
                cur.join(keep, "s", "left_semi")
                .join(keep.withColumnRenamed("s", "d"), "d", "left_semi")
                .localCheckpoint(eager=False)
            )
            stats.append(
                keep.agg(F.count("*").alias("nodes_kept"))
                .crossJoin(cur.agg(F.expr("count(*) DIV 2").alias("edges_kept")))
                .select(
                    F.lit(t).cast("int").alias("round"),
                    "nodes_kept",
                    "edges_kept",
                )
            )
        out = stats[0]
        for s in stats[1:]:
            out = out.unionAll(s)
        out = out.orderBy("round")
        if not materialize:
            # plan-inspection path (see pagerank): keep the full composed
            # plan visible to the shuffle-budget gate (PLAN_VARIANTS)
            return out
        # materialize the (rounds)-row stats union while the caches are
        # alive; they are released on every exit
        return out.localCheckpoint(eager=True)
    finally:
        if materialize:
            for df in cached:
                df.unpersist()


def _kcore_sql(
    threshold: float = 0.3,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
    bucket_cap: int | None = None,
) -> str:
    """DuckDB twin: LSH banding replay + the peeling loop unrolled —
    per round a degree CTE, a keep CTE, and the pruned edge CTE.
    ``bucket_cap`` replays the occupancy filter (see _pagerank_sql)."""
    parts = [
        f"WITH {_lsh_cte_sql(threshold, 4, 29, 7, bucket_cap)},",
        """
e AS (SELECT vec_a AS s, vec_b AS d FROM pairs),
u0 AS (SELECT s, d FROM e UNION ALL SELECT d, s FROM e)""",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f""",
d{t} AS (SELECT s, count(*) AS deg FROM u{t - 1} GROUP BY s),
k{t} AS (SELECT s FROM d{t} WHERE deg >= {k}),
u{t} AS (
    SELECT u.s, u.d FROM u{t - 1} u
    JOIN k{t} a ON a.s = u.s
    JOIN k{t} b ON b.s = u.d
)"""
        )
    selects = [
        f"""SELECT CAST({t} AS INTEGER) AS round,
       (SELECT CAST(count(*) AS BIGINT) FROM k{t}) AS nodes_kept,
       (SELECT CAST(count(*) // 2 AS BIGINT) FROM u{t}) AS edges_kept"""
        for t in range(1, rounds + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY round")
    return "".join(parts)


KCORE_SQL = _kcore_sql()


# ---------------------------------------------------------------------------
# Capped deployment twins (r9, VERDICT r8 #2)
# ---------------------------------------------------------------------------
# The registered graph defaults generate edges at the dense 4-bit
# certification pin — correct, but edge GENERATION dominates cold cost
# at big SFs (sf1 cold: pagerank 175.8 s / kcore 285 s, all of it the
# uncapped banding join; SCALE.md §20/§21). The deployment remedy is
# the same occupancy cap the curation capstone certified
# (q_curation_audit_capped, ext/curation.py): drop (band, bucket)
# groups above GRAPH_BUCKET_CAP before the candidate self-join —
# measured 1.9x at sf10 on the pagerank variant (SCALE.md §21,
# bucket_cap=128) and the lever that converts the family's one
# data-quadratic term (sum over buckets of |bucket|^2 under giant
# similarity clusters) into a bounded one.
#
# CAVEAT (measured, §21 follow-up): capping is NOT output-neutral for
# PageRank MASS — dropping a giant bucket removes intra-hub edges, so
# rank mass redistributes (top-20 overlap vs uncapped: 5/20 at the
# measurement pin). MEMBERSHIP consumers (is this doc in a dense
# template region?) are safe; mass consumers (exact rank ordering
# among hubs) must use the uncapped certification query at the SFs
# where it is affordable. That is why these twins certify against an
# oracle that REPLAYS the cap (the QUALIFY occupancy filter inside
# _lsh_cte) rather than pretending the cap is free: both engines miss
# the same over-cap buckets by construction.

GRAPH_BUCKET_CAP = 128


def pagerank_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank at the deployment shape: ADAPTIVE banding + the
    GRAPH_BUCKET_CAP occupancy filter (cap replayed in the oracle).

    Adaptive, not pinned, banding (unlike the uncapped certification
    query): at every certification SF the footer-tuned depth resolves
    to the same (bits=4, bands=29) pin the oracle replays — embeddings
    are 500/500/2000 rows at sf0.001/0.01/0.1, under the n-floor — so
    parity is unaffected; at big SFs the tuner deepens buckets so the
    cap PRUNES instead of annihilating (measured at sf1, r9: under the
    4-bit pin every one of the 29x16 (band, bucket) groups exceeds 128
    at 20k vectors, so pin+cap yields an EMPTY graph, while
    adaptive+cap is the 1.9x sf10 lever of SCALE.md §21.1). Cap
    engagement at certification SFs, measured: vacuous at
    sf0.001/sf0.01 (899/978 pairs, zero dropped — there parity
    certifies the plan shape), REAL at the sf0.1 heavy gate (14684 ->
    12319 pairs), which is where the cap-replaying oracle earns its
    keep. Membership-vs-mass caveat in the module-level block."""
    return pagerank(spark, sf_dir, bucket_cap=GRAPH_BUCKET_CAP)


def kcore_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling at the deployment shape (see pagerank_capped for
    the adaptive-banding + cap rationale and engagement measurements).
    k-core reads the graph as MEMBERSHIP (which nodes survive peeling),
    the consumer class the cap is safe for — but the kept-node/edge
    curve still shifts where over-cap buckets carried the only path
    into a region, hence the cap-replaying oracle."""
    return kcore(spark, sf_dir, bucket_cap=GRAPH_BUCKET_CAP)


PAGERANK_CAPPED_SQL = _pagerank_sql(bucket_cap=GRAPH_BUCKET_CAP)
KCORE_CAPPED_SQL = _kcore_sql(bucket_cap=GRAPH_BUCKET_CAP)

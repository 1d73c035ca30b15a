"""Statistical language-model scoring over `documents` — the
perplexity-based quality filter every large-scale pretraining corpus
pipeline runs (the CCNet recipe: score each document under a small LM,
keep/bucket by perplexity), plus reciprocal-rank-fusion hybrid
retrieval combining the lexical (BM25) and semantic (embedding-cosine)
rankers.

Scale design:
- The bigram model is a CORPUS-BOUNDED side table (≤ |V|² rows, in
  practice ∝ observed bigram types which grow ~Heaps-law sublinearly),
  built with two partial-aggregable groupBys. At 100 TB the model is
  pruned to top-M types + an OOV mass and broadcast (a few GB at
  most); here it stays a plain join and AQE broadcasts it from runtime
  stats — same plan either way.
- The document side shuffles only (doc_id, w1, w2) bigram instances
  into the model join, then one groupBy(doc_id) with map-side partial
  sums. No O(n²), no windows, no Python.
- Scoring arithmetic is deterministic-by-construction: probabilities
  are ratios of exact integer counts (IEEE division), and the per-doc
  sum of -log2 terms tolerates shuffle-order float drift ~1e-11, far
  under the 6 dp rounding gate (same argument as BM25's certified
  scoring, text.py).

Reference scope: the reference has no LM scoring — this is part of the
training-data-pipeline extension surface (brief §"text analysis").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

ADD_K = 0.5  # add-k smoothing mass per bigram type


def _doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w1, w2) — one row per bigram INSTANCE, from the shared
    normalized-text tier (norm split once; lambda sees a cheap column
    reference, see dedup._shingles perf note)."""
    from lakeflow.ext.dedup import normalized_docs, tokenized

    t = tokenized(normalized_docs(spark, sf_dir))
    idx = F.sequence(F.lit(1), F.size("tokens") - 1)
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at("tokens", i).alias("w1"),
            F.element_at("tokens", i + 1).alias("w2"),
        ),
    )
    return (
        t.filter(F.size("tokens") >= 2)
        .select("doc_id", F.explode(pairs).alias("bg"))
        .select("doc_id", "bg.w1", "bg.w2")
    )


def bigram_lm_scores(
    spark: SparkSession, sf_dir: str, k: float = ADD_K
) -> DataFrame:
    """Per-document bigram cross-entropy + perplexity under an add-k
    smoothed bigram LM trained on the corpus itself (self-scoring — the
    standard first pass; a curation deployment trains on a clean
    reference corpus and scores the crawl, which is the same plan with
    the model side read from a table).

    p(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V), where c(w1·) counts
    w1-as-context occurrences and V is the BIGRAM-PARTICIPATING
    vocabulary: the distinct tokens of multi-token documents (tokens
    that only ever appear alone in single-token docs never enter any
    bigram, contribute nothing to the probability mass being smoothed,
    and are excluded — deliberately, and identically in the DuckDB
    oracle twin, which shares this derivation).
    cross_entropy = mean(-log2 p) in bits/bigram; ppl = 2^H.

    Plan: two small aggregations build the model (bigram types,
    context totals); a scalar V rides a 1-row cross join; one join
    maps every bigram instance to its probability; one groupBy(doc_id)
    reduces. The model side is tiny relative to the corpus, so AQE
    broadcasts the join at runtime — at 100 TB you'd prune + broadcast
    explicitly and the instance side would never shuffle at all.
    """
    bg = _doc_bigrams(spark, sf_dir)
    # model: bigram-type counts + context totals (both partial-agg'd)
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # vocab from the bigram-TYPE table, not the instance stream: the
    # distinct token set of c12's two columns equals bg's (every
    # instance collapses into some type) but the input is model-sized —
    # saves a second full corpus scan (sf1: 14.6 s → ~9 s). NOTE this
    # makes V the multi-token-doc vocabulary (see docstring): tokens
    # appearing only in single-token docs never form a bigram and are
    # excluded from the smoothing denominator in BOTH engines.
    vocab = (
        c12.select(F.col("w1").alias("w")).union(c12.select("w2"))
        .agg(F.countDistinct("w").alias("v"))
    )
    model = (
        c12.join(c1, "w1")
        .join(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            (
                (F.col("c12") + F.lit(k))
                / (F.col("c1") + F.lit(k) * F.col("v"))
            ).alias("p"),
        )
    )
    scored = bg.join(model, ["w1", "w2"])  # self-trained: every instance hits
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            (-F.sum(F.log2("p")) / F.count("*")).alias("h"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round("h", 6).alias("cross_entropy"),
            F.round(F.pow(F.lit(2.0), F.col("h")), 3).alias("perplexity"),
        )
        .orderBy("doc_id")
    )


BIGRAM_LM_SQL = r"""
WITH tok AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')), '\s+') AS tokens
    FROM documents WHERE text IS NOT NULL
), bg AS (
    -- parallel scalar UNNESTs zip positionally in DuckDB: w1 = tokens
    -- 1..n-1 pairs with w2 = tokens 2..n
    SELECT doc_id,
           unnest(tokens[1:len(tokens)-1]) AS w1,
           unnest(tokens[2:len(tokens)]) AS w2
    FROM tok WHERE len(tokens) >= 2
), c12 AS (
    SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
), c1 AS (
    SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1
), vocab AS (
    SELECT count(DISTINCT w) AS v
    FROM (SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg)
), model AS (
    SELECT c12.w1, c12.w2,
           (c12 + 0.5) / (c1 + 0.5 * v) AS p
    FROM c12 JOIN c1 ON c12.w1 = c1.w1 CROSS JOIN vocab
), h AS (
    SELECT doc_id, count(*) AS n_bigrams,
           -sum(log2(p)) / count(*) AS h
    FROM bg JOIN model USING (w1, w2)
    GROUP BY doc_id
)
SELECT doc_id, CAST(n_bigrams AS INTEGER) AS n_bigrams,
       round(h, 6) AS cross_entropy,
       round(power(2.0, h), 3) AS perplexity
FROM h ORDER BY doc_id
"""


def dsir_weights(
    spark: SparkSession,
    sf_dir: str,
    target_lang: str = "en",
    buckets: int = 256,
    k: float = ADD_K,
) -> DataFrame:
    """DSIR importance weights — Data Selection with Importance
    Resampling (Xie et al. 2023, public): score every document by the
    log-likelihood ratio of a TARGET-domain hashed-unigram LM vs the
    GENERAL corpus LM, the published recipe for pulling
    domain-matched pretraining data out of a web-scale crawl. Target
    here = the ``lang='en'`` slice (a deployment points it at its
    curated in-domain corpus; identical plan).

    Features are hashed token buckets (portable md5 hash mod
    ``buckets``) — hashing bounds BOTH models at ``buckets`` rows
    regardless of vocabulary, which is the whole trick: the model side
    is a constant-size broadcast at any corpus scale, and the document
    side is one explode → broadcast-join → groupBy(doc_id) pass (one
    shuffle, map-side partial sums). log_ratio > 0 ⇒ the doc looks
    more target-like than corpus-average; resampling keeps docs with
    probability ∝ softmax of these weights.

    Smoothed per-bucket probabilities are ratios of exact integer
    counts; per-doc sums of ln-ratios drift < 1e-11 under shuffle
    order (same certified argument as BM25/the bigram LM), so 6 dp
    rounding makes the output engine-exact.
    """
    from lakeflow.ext.dedup import md5_prefix, normalized_docs, tokenized

    docs = normalized_docs(spark, sf_dir)
    tok = (
        tokenized(docs, "lang")
        .select("doc_id", "lang", F.explode("tokens").alias("tok"))
        .withColumn("b", F.pmod(md5_prefix("tok"), F.lit(buckets)))
    )
    is_t = (F.col("lang") == target_lang).cast("int")
    gen = tok.groupBy("b").agg(
        F.count("*").alias("c_g"), F.sum(is_t).alias("c_t")
    )
    totals = tok.agg(
        F.count("*").alias("n_g"), F.sum(is_t).cast("bigint").alias("n_t")
    )
    llr = F.log((F.col("c_t") + k) / (F.col("n_t") + k * buckets)) - F.log(
        (F.col("c_g") + k) / (F.col("n_g") + k * buckets)
    )
    model = gen.join(F.broadcast(totals)).select("b", llr.alias("llr"))
    return (
        tok.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.sum("llr").alias("lw"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round("lw", 6).alias("log_ratio"),
            F.round(F.col("lw") / F.col("n_tokens"), 6).alias("avg_log_ratio"),
        )
        .orderBy("doc_id")
    )


DSIR_SQL = r"""
WITH tok0 AS (
    SELECT doc_id, lang,
           unnest(string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')), '\s+')) AS tok
    FROM documents WHERE text IS NOT NULL
), tok AS (
    SELECT doc_id, lang, tok,
           CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 256 AS b
    FROM tok0
), gen AS (
    SELECT b, count(*) AS c_g,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
    FROM tok GROUP BY b
), totals AS (
    SELECT count(*) AS n_g,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_t
    FROM tok
), model AS (
    SELECT b,
           ln((c_t + 0.5) / (n_t + 0.5 * 256)) - ln((c_g + 0.5) / (n_g + 0.5 * 256)) AS llr
    FROM gen CROSS JOIN totals
), agg AS (
    SELECT doc_id, count(*) AS n_tokens, sum(llr) AS lw
    FROM tok JOIN model USING (b)
    GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       round(lw, 6) AS log_ratio,
       round(lw / n_tokens, 6) AS avg_log_ratio
FROM agg ORDER BY doc_id
"""


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics a tokenizer/mixture designer
    reads first: Shannon entropy of the unigram distribution (bits —
    the lower bound on average code length, i.e. how compressible the
    language slice is), vocabulary size, token count, and type-token
    ratio.

    Two partial-aggregable groupBys — (lang, token) counts, then a
    per-lang reduce; the entropy sum runs over VOCABULARY-sized rows,
    never instances. p·log2(p) terms are ratios of exact integer
    counts, so the 6 dp rounding argument holds as everywhere else.
    """
    from lakeflow.ext.dedup import normalized_docs, tokenized

    docs = normalized_docs(spark, sf_dir)
    tok = tokenized(docs, "lang").select("lang", F.explode("tokens").alias("tok"))
    counts = tok.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    per_lang = counts.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_vocab"),
        # -Σ (c/N) log2 (c/N) = log2(N) - Σ c·log2(c) / N
        F.sum(F.col("c") * F.log2("c")).alias("clc"),
    )
    return per_lang.select(
        "lang",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_vocab").cast("bigint").alias("n_vocab"),
        F.round(
            F.log2("n_tokens") - F.col("clc") / F.col("n_tokens"), 6
        ).alias("entropy_bits"),
        F.round(F.col("n_vocab") / F.col("n_tokens"), 6).alias("type_token_ratio"),
    ).orderBy("lang")


TOKEN_ENTROPY_SQL = r"""
WITH tok AS (
    SELECT lang,
           unnest(string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')), '\s+')) AS tok
    FROM documents WHERE text IS NOT NULL
), counts AS (
    SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2
), per_lang AS (
    SELECT lang, sum(c) AS n_tokens, count(*) AS n_vocab,
           sum(c * log2(c)) AS clc
    FROM counts GROUP BY lang
)
SELECT lang,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_vocab AS BIGINT) AS n_vocab,
       round(log2(n_tokens) - clc / n_tokens, 6) AS entropy_bits,
       round(CAST(n_vocab AS DOUBLE) / n_tokens, 6) AS type_token_ratio
FROM per_lang ORDER BY lang
"""


def source_overlap(
    spark: SparkSession, sf_dir: str, top: int = 15
) -> DataFrame:
    """Pairwise vocabulary overlap between sources: exact Jaccard of
    the distinct-token sets of every source pair, top-``top`` most
    overlapping — the corpus-planning diagnostic that tells a mixture
    designer which sources are redundant BEFORE paying for document
    dedup between them.

    Plan: one distinct over (source, token) — the only corpus-sized
    shuffle, map-side partial — collapses to per-source vocabulary
    counts (|sources| rows) plus a pair-intersection aggregate over
    the (token → source-list) inverted index. The pair join runs on
    token-grouped SOURCE LISTS (combinations inside a higher-order
    expression would be |S|² per token; instead the self-join is on
    the tiny distinct frame and AQE broadcasts it). Output scales with
    |sources|², never with corpus size.
    """
    from lakeflow.ext.dedup import normalized_docs, tokenized

    docs = normalized_docs(spark, sf_dir)
    st = (
        tokenized(docs, "source")
        .select("source", F.explode("tokens").alias("tok"))
        .distinct()
    )
    vocab = st.groupBy("source").agg(F.count("*").alias("n_vocab"))
    inter = (
        st.alias("a")
        .join(
            st.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    va = vocab.select(F.col("source").alias("src_a"), F.col("n_vocab").alias("v_a"))
    vb = vocab.select(F.col("source").alias("src_b"), F.col("n_vocab").alias("v_b"))
    return (
        inter.join(F.broadcast(va), "src_a")
        .join(F.broadcast(vb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.round(
                F.col("n_inter") / (F.col("v_a") + F.col("v_b") - F.col("n_inter")), 6
            ).alias("vocab_jaccard"),
        )
        .orderBy(F.desc("vocab_jaccard"), "src_a", "src_b")
        .limit(top)
    )


SOURCE_OVERLAP_SQL = r"""
WITH st AS (
    SELECT DISTINCT source,
           unnest(string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')), '\s+')) AS tok
    FROM documents WHERE text IS NOT NULL
), vocab AS (
    SELECT source, count(*) AS n_vocab FROM st GROUP BY source
), inter AS (
    SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
    FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
    GROUP BY 1, 2
)
SELECT src_a, src_b,
       round(CAST(n_inter AS DOUBLE) / (va.n_vocab + vb.n_vocab - n_inter), 6) AS vocab_jaccard
FROM inter
JOIN vocab va ON va.source = src_a
JOIN vocab vb ON vb.source = src_b
ORDER BY vocab_jaccard DESC, src_a, src_b
LIMIT 15
"""


RRF_K = 60  # standard reciprocal-rank-fusion damping constant
RRF_TOP = 50  # per-ranker candidate depth
RRF_QUERY_VEC = 0  # vec_id used as the semantic query


def rrf_fusion(
    spark: SparkSession,
    sf_dir: str,
    rrf_k: int = RRF_K,
    top: int = RRF_TOP,
    out: int = 20,
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    ranking (fixed query terms, text.bm25_scores) and the
    embedding-cosine semantic ranking (query = the embedding of
    ``vec_id = 0``; vec_id ≡ doc_id in the testdata contract).

    RRF(d) = Σ_r 1/(rrf_k + rank_r(d)) over the rankers that returned
    d in their top-``top`` — the score that made hybrid search the
    default in every production retrieval stack, because it needs no
    score calibration between rankers.

    Plan shape: both rankers end in TakeOrderedAndProject(top) — tiny
    frames — so the fusion join and final ordering cost nothing at any
    corpus size; the expensive parts are the rankers themselves, each
    already scale-audited (BM25: token-hit shuffle only; cosine: 1-row
    query broadcast, map-side dot products). Ranks are computed on
    6 dp-rounded scores with doc_id tiebreaks, so the fused output is
    engine-exact and oracle-certifiable.
    """
    from lakeflow.ext.similarity import _dot, _vector_frame
    from lakeflow.ext.text import bm25_scores

    from lakeflow import io

    bm = bm25_scores(spark, sf_dir, top=top).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rank_bm25"),
    )

    emb = _vector_frame(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("v").alias("qv"), F.col("nv").alias("qn")
    )
    cos = F.round(F.try_divide(_dot("v", "qv"), F.col("nv") * F.col("qn")), 6)
    sem = (
        emb.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .join(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(top)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("cosine"), F.asc("doc_id")))
            .alias("rank_cos"),
        )
    )

    fused = (
        bm.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_bm25",
            "rank_cos",
            F.round(
                F.coalesce(1.0 / (F.lit(rrf_k) + F.col("rank_bm25")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("rank_cos")), F.lit(0.0)),
                9,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(out)


def mmr_rerank(
    spark: SparkSession,
    sf_dir: str,
    lam: float = 0.7,
    top: int = RRF_TOP,
    out: int = 10,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking of the cosine top-``top``
    for the fixed query vector: greedily pick the doc maximizing
    λ·sim(d, q) − (1−λ)·max_{s∈selected} sim(d, s) — the
    diversity-aware final stage of a retrieval stack (dedups
    near-identical hits the plain top-k would stack).

    Execution shape, argued: the candidate set is bounded at ``top``
    BY CONSTRUCTION (its own distributed top-k), so the greedy loop
    runs driver-side over ≤ top vectors — this is not a driver-loop
    smell but the standard pattern for inherently sequential small-k
    algorithms (same class as the ≤2M-edge union-find in
    connected_components). The expensive part — scoring the corpus —
    stays the distributed, plan-audited kNN. Deterministic: 6 dp
    similarity rounding with vec_id tiebreaks. Oracle: the bounded
    greedy replayed in DuckDB with the loop UNROLLED into chained
    CTEs (MMR_RERANK_SQL — same trick as q_bpe_merges); every cosine
    uses the shared dot/(n_a·n_b) shape so both engines round the
    same float64 value.
    """
    import numpy as np

    from lakeflow import io
    from lakeflow.ext.similarity import _dvec

    emb = io.read_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v")
    )
    q_row = emb.filter(F.col("vec_id") == RRF_QUERY_VEC).head()
    qv = np.array(q_row["v"])
    qn = float(np.linalg.norm(qv))

    # distributed top-k: corpus never leaves the cluster; only the
    # bounded candidate rows (id + vector) are collected
    from lakeflow.ext.similarity import _dot, _norm

    cand_df = (
        emb.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .select("vec_id", "v", _norm("v").alias("nv"))
        .join(
            F.broadcast(
                spark.createDataFrame([(list(map(float, qv)),)], "qv array<double>")
            )
        )
        .select(
            "vec_id",
            "v",
            # dot/(n_v·n_q): the same expression shape as the DuckDB
            # twin, so the 6dp rounding sees an identical float64
            F.round(F.try_divide(_dot("v", "qv"), F.col("nv") * F.lit(qn)), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(top)
    )
    rows = cand_df.collect()
    ids = [r["vec_id"] for r in rows]
    rel = np.array([r["rel"] for r in rows])
    V = np.stack([np.array(r["v"]) for r in rows])
    norms = np.linalg.norm(V, axis=1)
    sims = np.round((V @ V.T) / np.outer(norms, norms), 6)

    selected: list[int] = []
    remaining = list(range(len(ids)))
    while remaining and len(selected) < out:
        best_i, best_score = None, None
        for i in remaining:
            div = max((sims[i][j] for j in selected), default=0.0)
            score = round(lam * rel[i] - (1 - lam) * div, 6)
            # tiebreak on vec_id for determinism
            key = (score, -ids[i])
            if best_score is None or key > best_score:
                best_i, best_score = i, key
        selected.append(best_i)
        remaining.remove(best_i)
    out_rows = [
        (int(ids[i]), float(rel[i]), r + 1) for r, i in enumerate(selected)
    ]
    return spark.createDataFrame(
        out_rows, "vec_id bigint, relevance double, mmr_rank int"
    )


def _mmr_sql(lam: float = 0.7, top: int = RRF_TOP, out: int = 10) -> str:
    """DuckDB twin of :func:`mmr_rerank`: the greedy loop UNROLLED into
    ``out`` chained CTE steps (the q_bpe_merges trick — a bounded
    sequential algorithm has no fixed-point SQL form, but a KNOWN
    iteration count unrolls exactly). Each step scores the remaining
    candidates against the picked set and takes the argmax with the
    same (score DESC, vec_id ASC) tiebreak. ``1 - lam`` is emitted via
    repr() so the SQL literal is the exact float64 Python computes
    (1 - 0.7 != 0.3 in binary)."""
    om = repr(1.0 - lam)
    parts = [
        f"""
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), n AS (
    SELECT vec_id, v,
           sqrt(list_aggregate(list_transform(v, x -> x*x), 'sum')) AS nv
    FROM v
), cand AS MATERIALIZED (
    SELECT a.vec_id, a.v, a.nv,
           round(list_aggregate(list_transform(list_zip(a.v, q.v), p -> p[1] * p[2]), 'sum')
                 / (a.nv * q.nv), 6) AS rel
    FROM n a CROSS JOIN (SELECT v, nv FROM n WHERE vec_id = {RRF_QUERY_VEC}) q
    WHERE a.vec_id != {RRF_QUERY_VEC}
    ORDER BY rel DESC, a.vec_id
    LIMIT {top}
), sim AS MATERIALIZED (
    SELECT a.vec_id AS ia, b.vec_id AS ib,
           round(list_aggregate(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), 'sum')
                 / (a.nv * b.nv), 6) AS s
    FROM cand a JOIN cand b ON a.vec_id != b.vec_id
), picked1 AS MATERIALIZED (
    SELECT vec_id, rel, 1 AS mmr_rank
    FROM cand
    ORDER BY round({lam} * rel, 6) DESC, vec_id
    LIMIT 1
)"""
    ]
    for k in range(2, out + 1):
        parts.append(
            f""", p{k} AS (
    SELECT c.vec_id, c.rel,
           round({lam} * c.rel - {om} * coalesce(max(sp.s), 0.0), 6) AS score
    FROM cand c
    LEFT JOIN (SELECT s.ia, s.s FROM sim s
               JOIN picked{k - 1} p ON s.ib = p.vec_id) sp
      ON sp.ia = c.vec_id
    WHERE c.vec_id NOT IN (SELECT vec_id FROM picked{k - 1})
    GROUP BY c.vec_id, c.rel
    ORDER BY score DESC, c.vec_id
    LIMIT 1
), picked{k} AS MATERIALIZED (
    SELECT vec_id, rel, mmr_rank FROM picked{k - 1}
    UNION ALL SELECT vec_id, rel, {k} FROM p{k}
)"""
        )
    parts.append(
        f"""
SELECT vec_id, rel AS relevance, CAST(mmr_rank AS INTEGER) AS mmr_rank
FROM picked{out}
ORDER BY mmr_rank
"""
    )
    return "".join(parts)


MMR_RERANK_SQL = _mmr_sql()


RRF_SQL = rf"""
WITH tok AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')), '\s+') AS tokens
    FROM documents WHERE text IS NOT NULL
), stats AS (
    SELECT count(*) AS n_docs, avg(len(tokens)) AS avgdl FROM tok
), tf AS (
    SELECT doc_id, len(tokens) AS dl,
           len(list_filter(tokens, t -> t = 'spark')) AS tf_spark,
           len(list_filter(tokens, t -> t = 'window')) AS tf_window,
           len(list_filter(tokens, t -> t = 'vector')) AS tf_vector
    FROM tok
), df AS (
    SELECT sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
           sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window,
           sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS df_vector
    FROM tf
), bm_scored AS (
    SELECT doc_id,
           round(
             CASE WHEN tf_spark > 0 THEN ln((n_docs - df_spark + 0.5)/(df_spark + 0.5) + 1.0)
                  * (tf_spark * 2.2) / (tf_spark + 1.2 * (0.25 + 0.75 * dl / avgdl)) ELSE 0 END
           + CASE WHEN tf_window > 0 THEN ln((n_docs - df_window + 0.5)/(df_window + 0.5) + 1.0)
                  * (tf_window * 2.2) / (tf_window + 1.2 * (0.25 + 0.75 * dl / avgdl)) ELSE 0 END
           + CASE WHEN tf_vector > 0 THEN ln((n_docs - df_vector + 0.5)/(df_vector + 0.5) + 1.0)
                  * (tf_vector * 2.2) / (tf_vector + 1.2 * (0.25 + 0.75 * dl / avgdl)) ELSE 0 END
           , 6) AS bm25
    FROM tf CROSS JOIN stats CROSS JOIN df
    WHERE tf_spark + tf_window + tf_vector > 0
), bm AS (
    SELECT doc_id, rank_bm25 FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_bm25
        FROM bm_scored
    ) WHERE rank_bm25 <= {RRF_TOP}
), v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), n AS (
    SELECT vec_id, v,
           sqrt(list_aggregate(list_transform(v, x -> x*x), 'sum')) AS nv
    FROM v
), sem_scored AS (
    SELECT a.vec_id AS doc_id,
           round(list_aggregate(list_transform(list_zip(a.v, q.v), p -> p[1] * p[2]), 'sum')
                 / (a.nv * q.nv), 6) AS cosine
    FROM n a CROSS JOIN (SELECT v, nv FROM n WHERE vec_id = {RRF_QUERY_VEC}) q
    WHERE a.vec_id != {RRF_QUERY_VEC}
), sem AS (
    SELECT doc_id, rank_cos FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank_cos
        FROM sem_scored
    ) WHERE rank_cos <= {RRF_TOP}
)
SELECT COALESCE(bm.doc_id, sem.doc_id) AS doc_id,
       CAST(rank_bm25 AS INTEGER) AS rank_bm25,
       CAST(rank_cos AS INTEGER) AS rank_cos,
       round(COALESCE(1.0 / ({RRF_K} + rank_bm25), 0.0)
           + COALESCE(1.0 / ({RRF_K} + rank_cos), 0.0), 9) AS rrf
FROM bm FULL OUTER JOIN sem ON bm.doc_id = sem.doc_id
ORDER BY rrf DESC, doc_id
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive retrieval training (r6)
# ---------------------------------------------------------------------------

HN_TOP = 30  # lexical candidate depth
HN_POS_COS = 0.25  # semantic threshold splitting positives from negatives


def hard_negatives(
    spark: SparkSession,
    sf_dir: str,
    top: int = HN_TOP,
    pos_cos: float = HN_POS_COS,
) -> DataFrame:
    """Hard-negative mining — the DPR/contrastive-training recipe
    (Karpukhin et al. 2020, public): the lexical ranker (BM25, fixed
    query) proposes ``top`` candidates, and the embedding similarity
    to the query (vec_id ≡ doc_id testdata contract, query =
    ``RRF_QUERY_VEC``) splits them into POSITIVES (cos ≥ ``pos_cos``)
    and HARD NEGATIVES — lexically confusable but semantically far,
    exactly the examples a dual-encoder needs to learn from. A
    zero-norm embedding has NULL cosine and labels hard_negative in
    both engines (the conservative default for unverifiable examples).

    Plan shape: BM25 ends in TakeOrderedAndProject(top) — a tiny
    frame broadcast against the embeddings scan — plus the 1-row
    query-vector broadcast; output ≤ top rows. At 100 TB the cost IS
    the BM25 pass (already scale-audited: token-hit shuffle only);
    the mining tail is free. Both scores 6dp-rounded → engine-exact.
    """
    from lakeflow import io
    from lakeflow.ext.similarity import _dot, _vector_frame
    from lakeflow.ext.text import bm25_scores

    bm = bm25_scores(spark, sf_dir, top=top)
    emb = _vector_frame(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("v").alias("qv"), F.col("nv").alias("qn")
    )
    cos = F.round(F.try_divide(_dot("v", "qv"), F.col("nv") * F.col("qn")), 6)
    return (
        emb.join(F.broadcast(bm), F.col("vec_id") == F.col("doc_id"))
        .filter(F.col("doc_id") != RRF_QUERY_VEC)
        .join(F.broadcast(q))
        .select(
            "doc_id",
            "bm25",
            cos.alias("cosine"),
            F.when(cos >= pos_cos, F.lit("positive"))
            .otherwise(F.lit("hard_negative"))
            .alias("label"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
    )


HARD_NEGATIVES_SQL = rf"""
WITH tok AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')), '\s+') AS tokens
    FROM documents WHERE text IS NOT NULL
), stats AS (
    SELECT count(*) AS n_docs, avg(len(tokens)) AS avgdl FROM tok
), tf AS (
    SELECT doc_id, len(tokens) AS dl,
           len(list_filter(tokens, t -> t = 'spark')) AS tf_spark,
           len(list_filter(tokens, t -> t = 'window')) AS tf_window,
           len(list_filter(tokens, t -> t = 'vector')) AS tf_vector
    FROM tok
), df AS (
    SELECT sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
           sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window,
           sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS df_vector
    FROM tf
), bm_scored AS (
    SELECT doc_id,
           round(
             CASE WHEN tf_spark > 0 THEN ln((n_docs - df_spark + 0.5)/(df_spark + 0.5) + 1.0)
                  * (tf_spark * 2.2) / (tf_spark + 1.2 * (0.25 + 0.75 * dl / avgdl)) ELSE 0 END
           + CASE WHEN tf_window > 0 THEN ln((n_docs - df_window + 0.5)/(df_window + 0.5) + 1.0)
                  * (tf_window * 2.2) / (tf_window + 1.2 * (0.25 + 0.75 * dl / avgdl)) ELSE 0 END
           + CASE WHEN tf_vector > 0 THEN ln((n_docs - df_vector + 0.5)/(df_vector + 0.5) + 1.0)
                  * (tf_vector * 2.2) / (tf_vector + 1.2 * (0.25 + 0.75 * dl / avgdl)) ELSE 0 END
           , 6) AS bm25
    FROM tf CROSS JOIN stats CROSS JOIN df
    WHERE tf_spark + tf_window + tf_vector > 0
), bm AS (
    SELECT doc_id, bm25 FROM (
        SELECT doc_id, bm25,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
        FROM bm_scored
    ) WHERE r <= {HN_TOP}
), v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), n AS (
    SELECT vec_id, v,
           sqrt(list_aggregate(list_transform(v, x -> x*x), 'sum')) AS nv
    FROM v
), scored AS (
    SELECT bm.doc_id, bm.bm25,
           round(list_aggregate(list_transform(list_zip(a.v, q.v), p -> p[1] * p[2]), 'sum')
                 / nullif(a.nv * q.nv, 0), 6) AS cosine
    FROM bm
    JOIN n a ON a.vec_id = bm.doc_id
    CROSS JOIN (SELECT v, nv FROM n WHERE vec_id = {RRF_QUERY_VEC}) q
    WHERE bm.doc_id != {RRF_QUERY_VEC}
)
SELECT doc_id, bm25, cosine,
       CASE WHEN cosine >= {HN_POS_COS} THEN 'positive' ELSE 'hard_negative' END AS label
FROM scored
ORDER BY bm25 DESC, doc_id
"""


# ---------------------------------------------------------------------------
# Per-source distribution divergence (r7)
# ---------------------------------------------------------------------------


def source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's unigram distribution from the
    corpus distribution — the mixture-design diagnostic that ranks
    sources by how far their token statistics sit from the blend the
    model will actually train on (the quantity temperature mixing /
    DSIR reweighting then act on). KL(source ‖ corpus) =
    Σ_w p_s(w)·ln(p_s(w)/p_c(w)), computed from exact integer counts:
    per-token terms c_sw·(ln c_sw − ln n_s − ln C_w + ln N) are
    quantized to integer micro-units (floor(x·1e6 + 0.5)) BEFORE the
    vocabulary sum, so the reduction is an order-free integer sum — the
    same portability recipe as q_quality_classifier's milli-unit
    features — and the final division + 6dp round certifies in DuckDB.
    KL ≥ 0 always; 0 iff the source's distribution equals the corpus's.

    Plan shape: one corpus-sized explode → (source, token) partial-agg
    groupBy (the only instance-scale shuffle); corpus token totals
    derive from the per-source counts by a second, vocabulary-sized
    aggregate — never a second corpus scan; scalar totals broadcast
    back via 1-row cross joins. State is vocabulary-sized throughout.
    """
    from lakeflow.ext.dedup import normalized_docs, tokenized

    tok = (
        tokenized(normalized_docs(spark, sf_dir), "source")
        .select("source", F.explode("tokens").alias("tok"))
        .filter(F.col("tok") != "")
    )
    from pyspark import StorageLevel

    # the vocabulary-sized (source, token) counts feed THREE branches
    # (per-source totals, corpus token totals, the term join) — without
    # the persist each branch re-derives the corpus explode + shuffle;
    # cached, the corpus is scanned once and everything downstream is
    # vocabulary-sized (same tier discipline as normalized_docs)
    c_sw = (
        tok.groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_s = c_sw.groupBy("source").agg(F.sum("c").alias("n_s"))
    c_w = c_sw.groupBy("tok").agg(F.sum("c").alias("cw"))
    n = c_w.agg(F.sum("cw").alias("n_total"))
    term = (
        F.col("c")
        * (F.log("c") - F.log("n_s") - F.log("cw") + F.log("n_total"))
    )
    terms = (
        c_sw.join(c_w, "tok")
        .join(F.broadcast(n_s), "source")
        .join(F.broadcast(n))
        .select(
            "source",
            "n_s",
            F.floor(term * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("ti"),
        )
    )
    return (
        terms.groupBy("source", "n_s")
        .agg(F.count("*").alias("n_vocab"), F.sum("ti").alias("ti_sum"))
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_tokens"),
            F.col("n_vocab").cast("bigint").alias("n_vocab"),
            F.round(F.col("ti_sum") / F.lit(1e6) / F.col("n_s"), 6).alias(
                "kl_vs_corpus"
            ),
        )
        .orderBy("source")
    )


SOURCE_KL_SQL = r"""
WITH tok AS (
    SELECT source,
           unnest(string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')), '\s+')) AS tok
    FROM documents WHERE text IS NOT NULL
), c_sw AS (
    SELECT source, tok, count(*) AS c FROM tok WHERE tok != '' GROUP BY 1, 2
), n_s AS (
    SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM c_sw GROUP BY source
), c_w AS (
    SELECT tok, CAST(sum(c) AS BIGINT) AS cw FROM c_sw GROUP BY tok
), n AS (
    SELECT CAST(sum(cw) AS BIGINT) AS n_total FROM c_w
), terms AS (
    SELECT s.source, ns.n_s,
           CAST(floor(s.c * (ln(s.c) - ln(ns.n_s) - ln(w.cw) + ln(n.n_total)) * 1000000 + 0.5) AS BIGINT) AS ti
    FROM c_sw s
    JOIN c_w w USING (tok)
    JOIN n_s ns USING (source)
    CROSS JOIN n
)
SELECT source,
       n_s AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_vocab,
       round(CAST(sum(ti) AS BIGINT) / 1000000.0 / n_s, 6) AS kl_vs_corpus
FROM terms
GROUP BY source, n_s
ORDER BY source
"""


PMI_MIN_COUNT = 5
PMI_TOP = 30


def pmi_collocations(
    spark: SparkSession,
    sf_dir: str,
    min_count: int = PMI_MIN_COUNT,
    top: int = PMI_TOP,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information over the
    bigram stream — the classic corpus-analysis pass (multi-word
    expressions, named-entity fragments, boilerplate phrases) that
    feeds tokenizer merge seeding and template detection.

    All probabilities come from the bigram stream itself (the same
    model-sized-derivation trick as bigram_lm_scores' V): with N total
    bigram instances, c1 = occurrences of w as LEFT context, c2 = as
    RIGHT continuation, PMI = ln(c12·N / (c1·c2)). A min_count floor
    suppresses the rare-pair PMI explosion (the standard correction).

    Plan: one explode over the shared normalized tier, ONE
    groupBy(w1, w2) into the bigram-type table, then everything else
    (position marginals, the PMI map, top-k) is MODEL-sized — two
    partial aggs over bigram types and two type-keyed joins; the
    corpus never shuffles twice. Top-k is TakeOrderedAndProject on
    (pmi desc, w1, w2) over the 6dp-rounded score both engines emit.
    """
    from pyspark import StorageLevel

    bg = _doc_bigrams(spark, sf_dir)
    # the bigram-TYPE table feeds four consumers (marginals, N, and the
    # final join) — persist it so the corpus explode+groupBy runs once
    # (the q_ann_recall/quantile_hist multi-consumer rule; model-sized,
    # Heaps-law sublinear in the corpus)
    c12 = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_count"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c1 = c12.groupBy("w1").agg(F.sum("pair_count").alias("c1"))
    c2 = c12.groupBy("w2").agg(F.sum("pair_count").alias("c2"))
    nn = c12.agg(F.sum("pair_count").alias("n"))
    pmi = F.round(
        F.log(
            (F.col("pair_count").cast("double") * F.col("n"))
            / (F.col("c1").cast("double") * F.col("c2"))
        ),
        6,
    )
    return (
        c12.filter(F.col("pair_count") >= min_count)
        .join(c1, "w1")
        .join(c2, "w2")
        .join(F.broadcast(nn))
        .select("w1", "w2", "pair_count", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(top)
    )


def _pmi_sql(min_count: int = PMI_MIN_COUNT, top: int = PMI_TOP) -> str:
    return rf"""
WITH norm AS (
    SELECT string_split_regex(
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')),
               '\s+') AS tokens
    FROM documents WHERE text IS NOT NULL
), bg AS (
    SELECT tokens[i] AS w1, tokens[i + 1] AS w2
    FROM norm, UNNEST(range(1, len(tokens))) AS t(i)
    WHERE len(tokens) >= 2
), c12 AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_count FROM bg GROUP BY 1, 2
), c1 AS (
    SELECT w1, CAST(sum(pair_count) AS BIGINT) AS c1 FROM c12 GROUP BY 1
), c2 AS (
    SELECT w2, CAST(sum(pair_count) AS BIGINT) AS c2 FROM c12 GROUP BY 1
), nn AS (
    SELECT CAST(sum(pair_count) AS BIGINT) AS n FROM c12
)
SELECT w1, w2, pair_count,
       round(ln((CAST(pair_count AS DOUBLE) * n) / (CAST(c1 AS DOUBLE) * c2)), 6) AS pmi
FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN nn
WHERE pair_count >= {min_count}
ORDER BY pmi DESC, w1, w2
LIMIT {top}
"""


PMI_SQL = _pmi_sql()


VOCAB_STEPS: tuple[int, ...] = (1000, 2000, 4000, 8000, 16000, 32000)


def tokenizer_coverage(
    spark: SparkSession,
    sf_dir: str,
    steps: tuple[int, ...] = VOCAB_STEPS,
) -> DataFrame:
    """Vocabulary-size → corpus-coverage curve: for each candidate
    vocab size V, the fraction of token INSTANCES covered by the V
    most frequent types (and the OOV rate, its complement) — the
    curve a tokenizer design reads to pick vocab size before paying
    for a BPE run.

    Scale derivation (the quality_blend lesson applied to ranking the
    vocabulary): NO per-word rank window — a corpus-wide (or even
    vocab-wide) row_number is the single-partition sort this engine
    bans. Instead the vocabulary collapses to its COUNT-CLASS
    histogram (distinct frequency values — Zipf-thin, thousands of
    rows at any corpus size): per class (count c, n_words, mass c·n),
    running totals over classes ordered by c desc (a tiny window),
    then each step V lands in exactly one boundary class and takes
    (V - words_above) interchangeable words × c tokens from it —
    deterministic without ANY within-class tie-break, because every
    word in a class contributes identically. Coverage ratios are
    exact-integer divisions rounded once.
    """
    from lakeflow.ext.dedup import normalized_docs, tokenized

    toks = (
        tokenized(normalized_docs(spark, sf_dir))
        .select(F.explode("tokens").alias("w"))
        .filter(F.col("w") != "")
    )
    counts = toks.groupBy("w").agg(F.count("*").alias("c"))
    classes = counts.groupBy("c").agg(F.count("*").alias("n_words"))
    w = Window.orderBy(F.desc("c")).rowsBetween(Window.unboundedPreceding, -1)
    run = classes.select(
        "c",
        "n_words",
        F.coalesce(F.sum("n_words").over(w), F.lit(0)).alias("words_above"),
        F.coalesce(F.sum(F.col("c") * F.col("n_words")).over(w), F.lit(0)).alias(
            "mass_above"
        ),
    )
    total = counts.agg(
        F.sum("c").alias("n_tokens"), F.count("*").alias("n_types")
    )
    step_df = spark.createDataFrame(
        [(v,) for v in steps], "vocab_size long"
    )
    # boundary class for step V: the unique class with
    # words_above < V <= words_above + n_words (V capped at n_types)
    j = (
        step_df.crossJoin(F.broadcast(total))
        .withColumn("v_eff", F.least("vocab_size", "n_types"))
        .join(
            F.broadcast(run),
            (F.col("words_above") < F.col("v_eff"))
            & (F.col("v_eff") <= F.col("words_above") + F.col("n_words")),
        )
    )
    covered = F.col("mass_above") + (F.col("v_eff") - F.col("words_above")) * F.col("c")
    return (
        j.select(
            "vocab_size",
            covered.cast("bigint").alias("covered_tokens"),
            "n_tokens",
            F.round(covered.cast("double") / F.col("n_tokens"), 6).alias("coverage"),
            F.round(
                F.lit(1.0) - covered.cast("double") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
        .orderBy("vocab_size")
    )


def _tokenizer_coverage_sql(steps: tuple[int, ...] = VOCAB_STEPS) -> str:
    step_rows = ", ".join(f"({v})" for v in steps)
    return rf"""
WITH toks AS (
    SELECT u.w FROM (
        SELECT string_split_regex(
                   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')),
                   '\s+') AS tokens
        FROM documents WHERE text IS NOT NULL
    ), UNNEST(tokens) AS u(w)
    WHERE u.w <> ''
), counts AS (
    SELECT w, count(*) AS c FROM toks GROUP BY 1
), classes AS (
    SELECT c, CAST(count(*) AS BIGINT) AS n_words FROM counts GROUP BY 1
), run AS (
    SELECT c, n_words,
           coalesce(sum(n_words) OVER (ORDER BY c DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS words_above,
           coalesce(sum(c * n_words) OVER (ORDER BY c DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS mass_above
    FROM classes
), total AS (
    SELECT CAST(sum(c) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_types
    FROM counts
), steps(vocab_size) AS (VALUES {step_rows})
SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
       CAST(mass_above + (least(vocab_size, n_types) - words_above) * c AS BIGINT) AS covered_tokens,
       n_tokens,
       round(CAST(mass_above + (least(vocab_size, n_types) - words_above) * c AS DOUBLE) / n_tokens, 6) AS coverage,
       round(1.0 - CAST(mass_above + (least(vocab_size, n_types) - words_above) * c AS DOUBLE) / n_tokens, 6) AS oov_rate
FROM steps CROSS JOIN total
JOIN run ON words_above < least(vocab_size, n_types)
        AND least(vocab_size, n_types) <= words_above + n_words
ORDER BY vocab_size
"""


TOKENIZER_COVERAGE_SQL = _tokenizer_coverage_sql()

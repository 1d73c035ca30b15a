"""End-to-end training-data curation pipeline — the flagship
COMPOSITION of the engine's certified stages into the shape a 100 TB
pretraining-corpus build actually runs:

    normalize → exact dedup → benchmark decontamination (Bloom) →
    quality filters (repetition + LM perplexity band + Gopher rule
    cascade) → model-based quality (hashed linear classifier) →
    exact-substring span dedup → semantic near-dup clustering (keep
    canonical) → leakage-safe split → deterministic sharding

Every stage is an operator certified on its own elsewhere in this repo
(`q_dedup_exact`, `q_bloom_decontam`, `q_repetition`,
`q_lm_perplexity`, `q_gopher_rules`, `q_quality_classifier`,
`q_span_dedup`, `q_dedup_clusters`, `q_cluster_split`,
`q_shard_manifest`); this
module wires them into one lazily-composed DataFrame plan, one
audit row per input document with every gate's verdict
(:func:`curated_docs`, registered as `q_curation_audit`).

Scale design (what survives the 1000× jump):
- One normalized-text tier shared by every text stage (the medallion
  persist in `dedup.normalized_docs`); at 100 TB this is a written
  table, here a MEMORY_AND_DISK cache.
- Stage predicates are plain column filters over that tier, so
  Catalyst fuses the dedup-survivor semi join, both quality filters,
  and the canonical-keep semi join into one scan pipeline — there is
  no per-stage materialization barrier except where a stage is
  inherently iterative (connected components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Default gate thresholds, calibrated to the synthetic corpus's measured
# distributions (see curated_docs docstring). Module-level so the Spark
# defaults and the DuckDB audit oracle (curation_audit_sql) consume ONE
# set of literals — a change to either side cannot silently
# desynchronize the other.
REP_TOKEN_MAX = 0.68
REP_TRIGRAM_MAX = 0.05
PPL_BAND = (27.5, 32.0)
SPAN_DUP_MAX = 0.5

# The deployment twin's LSH bucket-occupancy cap (q_curation_audit_capped).
# 128 is the measured knob from SCALE.md §16/§20.3: at sf10 it cut the
# 891M-candidate self-join by 69% (the uncapped certification pin died
# ENOSPC there) while leaving the funnel byte-identical; the oracle
# replays the same cap inside the LSH pair CTE so both engines drop the
# same over-cap buckets by construction.
CLUSTER_BUCKET_CAP = 128


def curated_docs(
    spark: SparkSession,
    sf_dir: str,
    rep_token_max: float = REP_TOKEN_MAX,
    rep_trigram_max: float = REP_TRIGRAM_MAX,
    ppl_band: tuple[float, float] = PPL_BAND,
    span_dup_max: float = SPAN_DUP_MAX,
    cluster_threshold: float | None = None,
    cluster_bucket_cap: int | None = None,
) -> DataFrame:
    """The curation plan: documents with per-stage survival flags.

    Returns one row per input document with boolean stage columns
    (``keep_exact``, ``keep_quality``, ``keep_spans``,
    ``keep_canonical``), the final
    ``kept`` flag, and for kept docs the leakage-safe ``split`` and
    content-keyed ``shard_id``. Downstream consumers filter
    ``kept`` — keeping the rejected rows (with the reason encoded in
    which flag failed) is deliberate: audit tables beat silent drops.

    Default thresholds are calibrated to this synthetic corpus's
    measured distributions (sf0.01: dup_token_ratio p5/p50/p95 =
    0.20/0.54/0.69, trigram p95 = 0.011, perplexity p5/p95 =
    27.95/31.19) so each gate trims a real tail rather than
    everything or nothing; a deployment sets them from its own
    profiling pass (`q_column_profile` / `q_histogram` are the
    operators for exactly that).
    """
    from lakeflow.ext import lm
    from lakeflow.ext.dedup import (
        LSH_BANDS,
        LSH_BITS,
        LSH_THRESHOLD,
        cluster_split,
        exact_dedup,
        md5_prefix,
        normalized_docs,
    )
    from lakeflow.ext.text import (
        BLOOM_EVAL_MOD,
        bloom_decontam,
        gopher_rules,
        quality_classifier,
        repetition,
        span_dedup,
    )

    if cluster_threshold is None:
        cluster_threshold = LSH_THRESHOLD

    docs = normalized_docs(spark, sf_dir).select(
        "doc_id", "lang", "source", "n_chars"
    )

    # exact-dedup survivors: the group representative per fingerprint
    exact_keep = exact_dedup(spark, sf_dir).select(
        F.col("keep_doc_id").alias("doc_id"), F.lit(True).alias("keep_exact")
    )

    # benchmark decontamination: anything the Bloom filter flags is
    # dropped — false positives included (the standard conservative
    # policy: at a ~3% FP rate the collateral is a tail, and dropping
    # it needs no second exact pass). The eval-slice documents
    # THEMSELVES (doc_id % BLOOM_EVAL_MOD == 0 — the synthetic
    # stand-in for held-out benchmarks) are dropped too, below: a
    # benchmark doc is by definition not trainable, and keeping it
    # while dropping its mere near-duplicates would invert the policy.
    decon = bloom_decontam(spark, sf_dir).select(
        "doc_id", F.lit(False).alias("keep_decontam")
    )

    # quality: repetition caps + perplexity band (degenerate text has
    # pathologically LOW perplexity, noise has high — band both ends)
    rep = repetition(spark, sf_dir).select(
        "doc_id",
        (
            (F.col("dup_token_ratio") <= rep_token_max)
            & (F.col("dup_trigram_ratio") <= rep_trigram_max)
        ).alias("q_rep"),
    )
    ppl = lm.bigram_lm_scores(spark, sf_dir).select(
        "doc_id",
        F.col("perplexity").between(*ppl_band).alias("q_ppl"),
    )
    gop = gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("q_gopher")
    )

    # model-based quality: the hashed linear classifier runs AFTER the
    # rule cascade (the CCNet/FineWeb ordering — rules are cheaper per
    # byte; the model sees only rule survivors in a staged deployment,
    # though as audit flags both are computed for every doc here)
    model = quality_classifier(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_model")
    )

    # exact-substring dedup: drop documents whose duplicated-span
    # fraction exceeds the cap (span-less short docs have NULL
    # dup_frac and pass — length policing is the word-count rule's job)
    spans = span_dedup(spark, sf_dir).select(
        "doc_id",
        F.coalesce(F.col("dup_frac") <= span_dup_max, F.lit(True)).alias(
            "keep_spans"
        ),
    )

    # semantic clustering: keep only the cluster canonical (min vec_id
    # ≡ the cluster_id itself); split rides the same frame
    # pinned (bits, bands) = the certified cluster-family parameters
    # (identical to the adaptive default at every certification SF) so
    # the end-to-end audit oracle can replay the banding
    clusters = cluster_split(
        spark,
        sf_dir,
        threshold=cluster_threshold,
        bucket_cap=cluster_bucket_cap,
        bits=LSH_BITS,
        bands=LSH_BANDS,
    ).select(
        F.col("vec_id").alias("doc_id"),
        (F.col("vec_id") == F.col("cluster_id")).alias("keep_canonical"),
        "split",
    )

    from lakeflow.ext.packing import N_SHARDS
    from lakeflow.ext.sampling import _bucket

    shard = F.pmod(md5_prefix(F.col("doc_id").cast("string"), 4), F.lit(N_SHARDS))

    # docs with no embedding row can't inherit a cluster split; they fall
    # back to the SAME md5-bucket thresholds keyed on doc_id, so every
    # kept doc carries a split even when |docs| >> |embeddings| (at sf1
    # only 20k of 50k docs are embedded — a NULL split there silently
    # drops 60% of kept docs from any split-consuming trainer)
    db = _bucket(F.col("doc_id"))
    doc_split = (
        F.when(db < 204, "train").when(db < 230, "val").otherwise("test")
    )

    flagged = (
        docs.join(exact_keep, "doc_id", "left")
        .join(decon, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(ppl, "doc_id", "left")
        .join(gop, "doc_id", "left")
        .join(model, "doc_id", "left")
        .join(spans, "doc_id", "left")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.coalesce("keep_exact", F.lit(False)).alias("keep_exact"),
            # absent from the Bloom drop list AND not an eval-slice
            # doc ⇒ clean (benchmark docs are never trainable)
            (
                F.coalesce("keep_decontam", F.lit(True))
                & (F.col("doc_id") % BLOOM_EVAL_MOD != 0)
            ).alias("keep_decontam"),
            (
                F.coalesce("q_rep", F.lit(False))
                & F.coalesce("q_ppl", F.lit(False))
                & F.coalesce("q_gopher", F.lit(False))
            ).alias("keep_quality"),
            F.coalesce("keep_model", F.lit(False)).alias("keep_model"),
            F.coalesce("keep_spans", F.lit(False)).alias("keep_spans"),
            # docs without an embedding row count as their own canonical
            F.coalesce("keep_canonical", F.lit(True)).alias("keep_canonical"),
            F.coalesce(F.col("split"), doc_split).alias("split"),
            shard.alias("shard_id"),
        )
    )
    return flagged.withColumn(
        "kept",
        F.col("keep_exact")
        & F.col("keep_decontam")
        & F.col("keep_quality")
        & F.col("keep_model")
        & F.col("keep_spans")
        & F.col("keep_canonical"),
    )


def curation_audit_sql(
    rep_token_max: float = REP_TOKEN_MAX,
    rep_trigram_max: float = REP_TRIGRAM_MAX,
    ppl_lo: float = PPL_BAND[0],
    ppl_hi: float = PPL_BAND[1],
    span_dup_max: float = SPAN_DUP_MAX,
    cluster_bucket_cap: int | None = None,
) -> str:
    """DuckDB twin of :func:`curated_docs` — the END-TO-END curation
    audit table, oracle-certified as one query. Each stage's already-
    certified SQL embeds as a subquery (nested WITH / WITH RECURSIVE
    are legal in DuckDB subqueries); the funnel logic on top is the
    same coalesce/AND lattice the Spark side builds. Thresholds are
    the SAME module-level constants :func:`curated_docs` defaults to,
    and the cluster stage replays the pinned banding via
    CLUSTER_SPLIT_LSH_SQL — itself built from the cluster family's
    (LSH_THRESHOLD, LSH_BITS, LSH_BANDS), so neither side can drift."""
    from lakeflow.ext.dedup import (
        EXACT_DEDUP_SQL,
        LSH_BANDS,
        LSH_BITS,
        LSH_THRESHOLD,
        cluster_split_lsh_sql,
    )
    from lakeflow.ext.lm import BIGRAM_LM_SQL
    from lakeflow.ext.text import (
        BLOOM_EVAL_MOD,
        BLOOM_DECONTAM_SQL,
        GOPHER_RULES_SQL,
        QUALITY_CLASSIFIER_SQL,
        REPETITION_SQL,
        SPAN_DEDUP_SQL,
    )

    cluster_sql = cluster_split_lsh_sql(
        LSH_THRESHOLD,
        bits=LSH_BITS,
        bands=LSH_BANDS,
        bucket_cap=cluster_bucket_cap,
    )
    bucket = (
        "(strpos('0123456789abcdef', substr(md5(CAST({key} AS VARCHAR)), 1, 1)) - 1) * 16"
        " + (strpos('0123456789abcdef', substr(md5(CAST({key} AS VARCHAR)), 2, 1)) - 1)"
    )
    doc_bucket = bucket.format(key="d.doc_id")
    return f"""
WITH docs AS (
    SELECT doc_id, lang, source, n_chars FROM documents WHERE text IS NOT NULL
), ex AS (
    SELECT keep_doc_id AS doc_id, true AS keep_exact FROM ({EXACT_DEDUP_SQL})
), bd AS (
    SELECT doc_id, false AS keep_decontam FROM ({BLOOM_DECONTAM_SQL})
), rep AS (
    SELECT doc_id,
           (dup_token_ratio <= {rep_token_max} AND dup_trigram_ratio <= {rep_trigram_max}) AS q_rep
    FROM ({REPETITION_SQL})
), ppl AS (
    SELECT doc_id, perplexity BETWEEN {ppl_lo} AND {ppl_hi} AS q_ppl
    FROM ({BIGRAM_LM_SQL})
), gop AS (
    SELECT doc_id, keep AS q_gopher FROM ({GOPHER_RULES_SQL})
), mdl AS (
    SELECT doc_id, keep AS keep_model FROM ({QUALITY_CLASSIFIER_SQL})
), sp AS (
    SELECT doc_id, coalesce(dup_frac <= {span_dup_max}, true) AS keep_spans
    FROM ({SPAN_DEDUP_SQL})
), cl AS (
    SELECT vec_id AS doc_id, (vec_id = cluster_id) AS keep_canonical, split
    FROM ({cluster_sql})
), flagged AS (
    SELECT d.doc_id, d.lang, d.source, d.n_chars,
           coalesce(ex.keep_exact, false) AS keep_exact,
           (coalesce(bd.keep_decontam, true)
            AND d.doc_id % {BLOOM_EVAL_MOD} <> 0) AS keep_decontam,
           (coalesce(rep.q_rep, false) AND coalesce(ppl.q_ppl, false)
            AND coalesce(gop.q_gopher, false)) AS keep_quality,
           coalesce(mdl.keep_model, false) AS keep_model,
           coalesce(sp.keep_spans, false) AS keep_spans,
           coalesce(cl.keep_canonical, true) AS keep_canonical,
           coalesce(cl.split,
                    CASE WHEN {doc_bucket} < 204 THEN 'train'
                         WHEN {doc_bucket} < 230 THEN 'val'
                         ELSE 'test' END) AS split,
           CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 16 AS shard_id
    FROM docs d
    LEFT JOIN ex USING (doc_id)
    LEFT JOIN bd USING (doc_id)
    LEFT JOIN rep USING (doc_id)
    LEFT JOIN ppl USING (doc_id)
    LEFT JOIN gop USING (doc_id)
    LEFT JOIN mdl USING (doc_id)
    LEFT JOIN sp USING (doc_id)
    LEFT JOIN cl USING (doc_id)
)
SELECT *,
       (keep_exact AND keep_decontam AND keep_quality AND keep_model
        AND keep_spans AND keep_canonical) AS kept
FROM flagged
ORDER BY doc_id
"""


CURATION_AUDIT_SQL = curation_audit_sql()

# The deployment twin's oracle: identical lattice, identical thresholds,
# the occupancy cap REPLAYED inside the LSH pair CTE — the oracle misses
# the same over-cap buckets the Spark plan drops, by construction, so
# the certification does not lean on §16's funnel-transitivity argument.
CURATION_AUDIT_CAPPED_SQL = curation_audit_sql(
    cluster_bucket_cap=CLUSTER_BUCKET_CAP
)

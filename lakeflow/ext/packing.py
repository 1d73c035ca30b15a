"""Training-data assembly operators: document chunking, sequence
packing, and source-mix planning — the steps between a curated corpus
and an actual training batch stream.

All three are pure Catalyst expressions with DuckDB oracle twins:

- ``chunk_documents``: overlapping fixed-size token windows per doc
  (posexplode over a stride sequence + array slice). Map-only — NO
  shuffle at any scale; chunking 100 TB is embarrassingly parallel.
- ``pack_sequences``: deterministic token-budget packing. Documents are
  packed in doc_id order WITHIN each source shard (window partitioned
  by ``source``), so the plan is one shuffle on the shard key and every
  shard packs in parallel. A single global ORDER BY would funnel the
  corpus through one task — the single-task global-sort trap — so
  global packing is deliberately not offered; at 100 TB you pack per
  shard (or per (source, sub-shard)) exactly like this.
- ``mix_plan``: per-language token inventory vs target mixture weights
  → sampling rate / epoch multiplier per language. One tiny aggregate
  (output scales with |langs|, not rows); the plan it emits is what a
  weighted interleaving reader consumes.

No reference parity to cite: the reference engine stops at curation
(SURVEY §2 has no batch-assembly stage); these extend the LLM-pipeline
surface the build brief asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakeflow import io
from lakeflow.ext.dedup import md5_prefix
from lakeflow.ext.text import TOKEN_SPLIT

CHUNK_SIZE = 64
CHUNK_STRIDE = 48
PACK_BUDGET = 2048
MIX_BUDGET = 1_000_000
# target mixture weights by language (sums to 1)
MIX_WEIGHTS = {"en": 0.5, "de": 0.125, "es": 0.125, "fr": 0.125, "zh": 0.125}


def chunk_documents(
    spark: SparkSession,
    sf_dir: str,
    chunk_size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Split every document into overlapping ``chunk_size``-token windows
    starting every ``stride`` tokens (the standard context-window prep for
    embedding / pretraining corpora). One generator expression per row —
    no shuffle, no Python."""
    docs = io.read_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), TOKEN_SPLIT).alias("w")
    ).select(
        "doc_id",
        "w",
        F.posexplode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("w") - F.lit(1), F.lit(0)),
                F.lit(stride),
            )
        ).alias("chunk_id", "start"),
    )
    chunk = F.slice(F.col("w"), F.col("start") + F.lit(1), F.lit(chunk_size))
    return d.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


CHUNK_DOCS_SQL = rf"""
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), '{TOKEN_SPLIT}') AS w
    FROM documents
), s AS (
    -- scalar generate_series + unnest: DuckDB's table-function form
    -- rejects lateral column arguments
    SELECT doc_id, w,
           unnest(generate_series(0, greatest(len(w) - 1, 0), {CHUNK_STRIDE})) AS st
    FROM t
)
SELECT doc_id,
       CAST(st // {CHUNK_STRIDE} AS INTEGER) AS chunk_id,
       CAST(len(list_slice(w, st + 1, st + {CHUNK_SIZE})) AS INTEGER) AS n_tokens,
       array_to_string(list_slice(w, st + 1, st + {CHUNK_SIZE}), ' ') AS chunk_text
FROM s
"""


def pack_sequences(
    spark: SparkSession, sf_dir: str, budget: int = PACK_BUDGET
) -> DataFrame:
    """Deterministic sequence packing: walking docs in doc_id order within
    each source shard, a doc goes to bin ``floor(tokens_before / budget)``.
    Returns per-bin occupancy. Bins can exceed ``budget`` only by their
    last doc's overflow (allow-split-free packing); ``fill_ratio`` makes
    the waste measurable."""
    docs = io.read_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), TOKEN_SPLIT)).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = docs.select("source", "doc_id", toks.alias("toks")).withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum("toks").over(w), F.lit(0)) / F.lit(budget)).cast("int"),
    )
    return (
        d.groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("bin_tokens"),
            (F.sum("toks") / F.lit(float(budget))).alias("fill_ratio"),
        )
        .orderBy("source", "bin_id")
    )


PACK_SEQUENCES_SQL = rf"""
WITH t AS (
    SELECT source, doc_id,
           CAST(len(string_split_regex(trim(text), '{TOKEN_SPLIT}')) AS BIGINT) AS toks
    FROM documents
), c AS (
    SELECT source, doc_id, toks,
           COALESCE(SUM(toks) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM t
)
SELECT source,
       CAST(FLOOR(cum_before / {PACK_BUDGET}) AS INTEGER) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS bin_tokens,
       CAST(SUM(toks) AS BIGINT) / CAST({float(PACK_BUDGET)} AS DOUBLE) AS fill_ratio
FROM c
GROUP BY source, bin_id
ORDER BY source, bin_id
"""


def mix_plan(
    spark: SparkSession,
    sf_dir: str,
    budget: int = MIX_BUDGET,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Source-mixture planning: compare each language's token inventory
    against its target share of a ``budget``-token training mix, emitting
    the per-language downsampling rate (≤ 1) or epoch multiplier (> 1 ⇒
    the corpus must repeat to hit its target share)."""
    weights = weights if weights is not None else MIX_WEIGHTS
    docs = io.read_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), TOKEN_SPLIT)).cast("bigint")
    wcol = F.lit(0.0)
    for lang, wt in sorted(weights.items()):
        wcol = F.when(F.col("lang") == lang, F.lit(wt)).otherwise(wcol)
    agg = docs.groupBy("lang").agg(
        F.count("*").alias("docs"), F.sum(toks).alias("actual_tokens")
    )
    target = F.col("weight") * F.lit(float(budget))
    return (
        agg.withColumn("weight", wcol)
        .select(
            "lang",
            "docs",
            "actual_tokens",
            "weight",
            target.alias("target_tokens"),
            F.least(F.lit(1.0), target / F.col("actual_tokens")).alias("sample_rate"),
            F.ceil(target / F.col("actual_tokens")).cast("int").alias("epochs_needed"),
        )
        .orderBy("lang")
    )


def _mix_case() -> str:
    # CAST to DOUBLE: bare decimal literals are DECIMAL-typed in DuckDB,
    # which would schema-mismatch Spark's double weight column
    arms = " ".join(
        f"WHEN '{lang}' THEN {wt}" for lang, wt in sorted(MIX_WEIGHTS.items())
    )
    return f"CAST(CASE lang {arms} ELSE 0.0 END AS DOUBLE)"


_TGT = f"{_mix_case()} * CAST({float(MIX_BUDGET)} AS DOUBLE)"

MIX_PLAN_SQL = rf"""
WITH t AS (
    SELECT lang,
           COUNT(*) AS docs,
           CAST(SUM(len(string_split_regex(trim(text), '{TOKEN_SPLIT}'))) AS BIGINT) AS actual_tokens
    FROM documents
    GROUP BY lang
)
SELECT lang, docs, actual_tokens,
       {_mix_case()} AS weight,
       {_TGT} AS target_tokens,
       LEAST(CAST(1.0 AS DOUBLE), {_TGT} / actual_tokens) AS sample_rate,
       CAST(CEIL({_TGT} / actual_tokens) AS INTEGER) AS epochs_needed
FROM t
ORDER BY lang
"""


N_SHARDS = 16


def shard_manifest(
    spark: SparkSession, sf_dir: str, n_shards: int = N_SHARDS
) -> DataFrame:
    """Deterministic training-shard plan: every document is assigned a
    shard by md5(doc_id) — reproducible in any engine, stable under
    re-runs and repartitioning — and the manifest reports per-shard
    document/token/char totals plus the skew ratio a reader needs to
    plan balanced consumption.

    This is the SHUFFLE step of a training-data export (the writer
    would `repartition(n_shards, shard_id)` and write one file set per
    shard): hash sharding decorrelates adjacent documents (a
    source-ordered corpus otherwise puts one crawl's pages in one
    shard), and doing it by CONTENT KEY rather than Spark's task RNG
    keeps the shard membership byte-stable across cluster sizes — the
    property that makes training runs resumable and data ablations
    diffable. One map-side-combined shuffle on shard_id; output rows =
    n_shards.
    """
    docs = io.read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    shard = F.pmod(md5_prefix(F.col("doc_id").cast("string"), 4), F.lit(n_shards))
    toks = F.size(F.split(F.col("text"), TOKEN_SPLIT))
    per = (
        docs.select(shard.alias("shard_id"), toks.alias("n_tok"), F.length("text").alias("n_chr"))
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            F.sum("n_tok").cast("bigint").alias("tokens"),
            F.sum("n_chr").cast("bigint").alias("chars"),
        )
    )
    mean_docs = per.agg(F.avg("docs").alias("_m"))
    return (
        per.crossJoin(mean_docs)
        .select(
            "shard_id",
            "docs",
            "tokens",
            "chars",
            F.round(F.col("docs") / F.col("_m"), 6).alias("balance"),
        )
        .orderBy("shard_id")
    )


SHARD_MANIFEST_SQL = rf"""
WITH d AS (
    SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % {N_SHARDS} AS shard_id,
           len(string_split_regex(text, '{TOKEN_SPLIT}')) AS n_tok,
           length(text) AS n_chr
    FROM documents WHERE text IS NOT NULL
), per AS (
    SELECT shard_id, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens,
           CAST(sum(n_chr) AS BIGINT) AS chars
    FROM d GROUP BY shard_id
)
SELECT shard_id, docs, tokens, chars,
       round(docs / (SELECT avg(docs) FROM per), 6) AS balance
FROM per ORDER BY shard_id
"""


def epoch_shuffle(
    spark: SparkSession,
    sf_dir: str,
    epoch: int = 0,
    n_shards: int = N_SHARDS,
) -> DataFrame:
    """Deterministic per-epoch training order (r8) — the reproducible
    data-ordering step a training run needs on top of
    :func:`shard_manifest`'s membership: within each shard, documents
    are ordered by the content-keyed priority md5(epoch ':' doc_id),
    so (a) every epoch is a DIFFERENT pseudo-random permutation, (b)
    the same (epoch, corpus) always yields the same order — resumable
    runs, diffable ablations — and (c) no two engines/cluster sizes
    disagree (no task RNG, no zipWithIndex).

    Scale shape: this is the "global shuffle without a global sort"
    trick — the only ordering work is a row_number window PARTITIONED
    BY shard, so each sort is shard-sized (corpus/n_shards; a real
    deployment scales n_shards with the corpus, keeping partitions
    bounded) and shards sort in parallel. A naive orderBy(rand())
    would be a corpus-wide range-partitioned sort AND unreproducible;
    a zipWithIndex would serialize on a driver round-trip.
    """
    docs = io.read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    shard = F.pmod(md5_prefix(F.col("doc_id").cast("string"), 4), F.lit(n_shards))
    prio = F.md5(
        F.concat_ws(":", F.lit(epoch).cast("string"), F.col("doc_id").cast("string"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard_id").orderBy("prio", "doc_id")
    return (
        docs.select("doc_id", shard.alias("shard_id"), prio.alias("prio"))
        .select(
            "doc_id",
            "shard_id",
            F.row_number().over(w).alias("position"),
        )
        .orderBy("shard_id", "position")
    )


def _epoch_shuffle_sql(epoch: int = 0, n_shards: int = N_SHARDS) -> str:
    return f"""
WITH d AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % {n_shards} AS shard_id,
           md5(CAST({epoch} AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS prio
    FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, shard_id,
       CAST(row_number() OVER (PARTITION BY shard_id ORDER BY prio, doc_id) AS INTEGER) AS position
FROM d
ORDER BY shard_id, position
"""


EPOCH_SHUFFLE_SQL = _epoch_shuffle_sql()


# power-of-2 length-bucket boundaries: a doc pads to the smallest
# boundary >= its token count (the bucketed-batching contract); the
# 2^20 sentinel absorbs pathological outliers without an open bucket
LENGTH_BUCKET_CAPS: tuple[int, ...] = (8, 16, 32, 64, 128, 256, 512, 1024,
                                       2048, 4096, 8192, 16384, 32768, 65536)
LENGTH_BUCKET_OVERFLOW = 1 << 20


def _length_bucket_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} <= {cap} THEN {cap}" for cap in LENGTH_BUCKET_CAPS
    )
    return f"CASE {whens} ELSE {LENGTH_BUCKET_OVERFLOW} END"


def length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit — the padding-waste accounting a
    training data-loader needs before choosing bucket boundaries:
    every document pads to the smallest power-of-2 boundary >= its
    whitespace-token count (bucketed batching, the standard fix for
    the quadratic attention + padding waste of naive global batches),
    and the audit reports, per bucket, how many docs land there and
    what fraction of the padded volume is waste.

    Map-only bucketing (a CASE ladder — no float log2, which is a
    portability hazard at exact powers of two) + ONE partial-agg
    groupBy into <= 15 rows. At 100 TB this is a single pass over the
    token-count column of the manifest; there is nothing else to pay.
    """
    docs = io.read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        F.size(F.split(F.trim(F.col("text")), TOKEN_SPLIT))
        .cast("bigint")
        .alias("tokens")
    )
    return (
        toks.withColumn("bucket_cap", F.expr(_length_bucket_sql("tokens")))
        .groupBy("bucket_cap")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").alias("total_tokens"),
        )
        .select(
            "bucket_cap",
            "n_docs",
            "total_tokens",
            (F.col("n_docs") * F.col("bucket_cap")).alias("padded_tokens"),
            F.round(
                F.lit(1.0)
                - F.col("total_tokens").cast("double")
                / (F.col("n_docs") * F.col("bucket_cap")),
                6,
            ).alias("waste_frac"),
        )
        .orderBy("bucket_cap")
    )


LENGTH_BUCKETS_SQL = f"""
WITH toks AS (
    SELECT CAST(len(string_split_regex(trim(text), '{TOKEN_SPLIT}')) AS BIGINT) AS tokens
    FROM documents WHERE text IS NOT NULL
), bucketed AS (
    SELECT tokens, {_length_bucket_sql('tokens')} AS bucket_cap FROM toks
)
SELECT bucket_cap,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS total_tokens,
       CAST(count(*) * bucket_cap AS BIGINT) AS padded_tokens,
       round(1.0 - CAST(sum(tokens) AS DOUBLE) / (count(*) * bucket_cap), 6) AS waste_frac
FROM bucketed
GROUP BY bucket_cap
ORDER BY bucket_cap
"""


MIX_TEMPERATURE = 0.3


def mix_temperature(
    spark: SparkSession,
    sf_dir: str,
    temperature: float = MIX_TEMPERATURE,
    budget: int = MIX_BUDGET,
) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-LM sampling
    recipe — mT5/XLM-R style, public): sampling share p_s ∝ n_s^T with
    T ∈ (0, 1] flattens the natural token distribution so tail sources
    are not drowned by the head (T=1 reproduces natural proportions,
    T→0 approaches uniform). Where :func:`mix_plan` consumes
    hand-assigned weights, this DERIVES the weights from the inventory
    itself — the standard alternative when no per-source targets
    exist.

    Output per source: token inventory, natural share, temperature
    share, the budget allocation, and the oversample factor
    (allocated/actual; >1 ⇒ the source repeats). One tiny aggregate +
    one window over |sources| rows — output scales with the number of
    sources, never the corpus; at 100 TB the whole query after the
    scan-side partial agg is a driver-sized plan.

    Certification: token counts are exact integers; pow/shares are
    double arithmetic over ≤|sources| values rounded to 6 dp (the
    certified transcendental-op argument: both engines evaluate libm
    pow on identical inputs; the window sum spans a handful of rows).
    """
    docs = io.read_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), TOKEN_SPLIT)).cast("bigint")
    agg = docs.groupBy("source").agg(
        F.count("*").alias("docs"), F.sum(toks).alias("actual_tokens")
    )
    w = Window.partitionBy()
    powed = F.pow(F.col("actual_tokens").cast("double"), F.lit(float(temperature)))
    shares = agg.select(
        "source",
        "docs",
        "actual_tokens",
        (F.col("actual_tokens") / F.sum("actual_tokens").over(w)).alias("nat_share"),
        (powed / F.sum(powed).over(w)).alias("temp_share"),
    )
    alloc = F.col("temp_share") * F.lit(float(budget))
    return shares.select(
        "source",
        "docs",
        "actual_tokens",
        F.round("nat_share", 6).alias("nat_share"),
        F.round("temp_share", 6).alias("temp_share"),
        F.round(alloc, 2).alias("target_tokens"),
        F.round(alloc / F.col("actual_tokens"), 6).alias("oversample"),
    ).orderBy("source")


MIX_TEMPERATURE_SQL = rf"""
WITH t AS (
    SELECT source,
           COUNT(*) AS docs,
           CAST(SUM(len(string_split_regex(trim(text), '{TOKEN_SPLIT}'))) AS BIGINT) AS actual_tokens
    FROM documents
    GROUP BY source
), s AS (
    SELECT source, docs, actual_tokens,
           actual_tokens / SUM(actual_tokens) OVER () AS nat_share,
           pow(CAST(actual_tokens AS DOUBLE), {MIX_TEMPERATURE}) / SUM(pow(CAST(actual_tokens AS DOUBLE), {MIX_TEMPERATURE})) OVER () AS temp_share
    FROM t
)
SELECT source, docs, actual_tokens,
       round(nat_share, 6) AS nat_share,
       round(temp_share, 6) AS temp_share,
       round(temp_share * {float(MIX_BUDGET)}, 2) AS target_tokens,
       round(temp_share * {float(MIX_BUDGET)} / actual_tokens, 6) AS oversample
FROM s
ORDER BY source
"""

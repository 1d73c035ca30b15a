"""Text-analysis operators over the `documents` table (X4 + training-
data pipeline surface): token counting, quality scoring, language-ID,
document fingerprinting, per-corpus stats.

All pure Catalyst expressions (regex + array built-ins) — JVM-side,
whole-stage-codegen friendly; no Python in the hot path. Each operator
has a DuckDB-SQL twin for the oracle check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeflow import io

# Deliberately simple regexes that parse identically in Java (Spark) and
# RE2-ish (DuckDB) dialects: no lookarounds, no shorthand-class corner
# cases beyond \s.
TOKEN_SPLIT = r"\s+"
WORDY = "[A-Za-z]+"
PUNCT = "[^A-Za-z0-9 ]"

# Tiny deterministic stopword lists for heuristic language ID.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "und", "das", "ein"),
}


def _tokens() -> F.Column:
    return F.split(F.trim(F.col("text")), TOKEN_SPLIT)


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish word-piece count per document."""
    docs = io.read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        F.size(_tokens()).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(WORDY)).cast("bigint").alias("word_tokens"),
        F.length("text").alias("chars"),
    )


TOKEN_COUNTS_SQL = f"""
SELECT doc_id, lang,
       CAST(len(string_split_regex(trim(text), '{TOKEN_SPLIT}')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{WORDY}')) AS BIGINT) AS word_tokens,
       CAST(length(text) AS INTEGER) AS chars
FROM documents
"""


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per (lang, source): doc counts, char/token totals.

    Integer sums → exact; averages as single divisions (hash-stable).
    """
    docs = io.read_table(spark, sf_dir, "documents")
    toks = F.size(_tokens()).cast("bigint")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(toks).alias("total_tokens"),
            (F.sum("n_chars") / F.count("*")).alias("avg_chars"),
            (F.sum(toks) / F.count("*")).alias("avg_tokens"),
        )
        .orderBy("lang", "source")
    )


TEXT_STATS_SQL = f"""
SELECT lang, source,
       COUNT(*) AS docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split_regex(trim(text), '{TOKEN_SPLIT}'))) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) / COUNT(*) AS avg_chars,
       CAST(SUM(len(string_split_regex(trim(text), '{TOKEN_SPLIT}'))) AS BIGINT) / COUNT(*) AS avg_tokens
FROM documents
GROUP BY lang, source ORDER BY lang, source
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals: length, punctuation density, stopword
    hits — the length/punct/stopword-ratio trio of LLM data filtering.
    Ratios are single divisions of exact integers → hash-stable."""
    docs = io.read_table(spark, sf_dir, "documents")
    toks = F.size(_tokens()).cast("bigint")
    punct = F.regexp_count(F.col("text"), F.lit(PUNCT)).cast("bigint")
    stop_en = F.size(
        F.array_intersect(
            _tokens(), F.array(*[F.lit(w) for w in STOPWORDS["en"]])
        )
    )
    return docs.select(
        "doc_id",
        F.length("text").alias("chars"),
        toks.alias("tokens"),
        punct.alias("punct_chars"),
        # try_divide: empty text has no defined punct density (ANSI
        # would abort the job); DuckDB's x/0 is already NULL
        F.round(F.try_divide(punct, F.length("text")), 6).alias("punct_ratio"),
        stop_en.alias("en_stopword_kinds"),
        (F.length("text") >= 100).alias("len_ok"),
    )


DOC_QUALITY_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS chars,
       CAST(len(string_split_regex(trim(text), '{TOKEN_SPLIT}')) AS BIGINT) AS tokens,
       CAST(len(regexp_extract_all(text, '{PUNCT}')) AS BIGINT) AS punct_chars,
       round(CAST(len(regexp_extract_all(text, '{PUNCT}')) AS BIGINT) / nullif(length(text), 0), 6) AS punct_ratio,
       CAST(len(list_intersect(list_distinct(string_split_regex(trim(text), '{TOKEN_SPLIT}')),
                               ['the','a','and','of','to'])) AS INTEGER) AS en_stopword_kinds,
       length(text) >= 100 AS len_ok
FROM documents
"""


# The Gopher/MassiveText repetition-free quality rules operate on word
# and line shape (Rae et al., "Scaling Language Models: Methods,
# Analysis & Insights from Training Gopher", 2021, Table A1). The
# stopword list is the paper's "common English words" gate; the
# threshold defaults below are recalibrated to this synthetic corpus's
# measured distributions (sf0.01: words p5/p50/p95 = 16/56/94, mean
# word length 3.96–5.04, stop-kind histogram 0→23.6% / ≥1→76.4%) so
# each rule trims a real tail — a deployment re-derives them from its
# own profiling pass exactly as the curation thresholds are.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    spark: SparkSession,
    sf_dir: str,
    min_words: int = 15,
    max_words: int = 100_000,
    mwl_lo: float = 3.0,
    mwl_hi: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_kinds: int = 1,
) -> DataFrame:
    """Gopher-style rule-cascade quality filter: one row per document
    with the per-rule verdicts and the final ``keep`` — an audit table,
    same convention as the curation funnel (rejected rows stay, the
    failing rule is visible).

    Rules (each FALSE on null/degenerate text in both engines):
    word-count window, mean-word-length window, symbol-to-word ratio
    cap (#/ellipsis), bullet-line fraction cap, ellipsis-line fraction
    cap, alphabetic-word fraction floor, distinct-stopword floor.

    Pure Catalyst expressions (split + higher-order array functions +
    regexp_count) — whole-stage codegen, zero shuffles: at 100 TB this
    is a map-only pass whose cost is the scan. All ratio comparisons
    divide exact integers (or an order-fixed double sum), so the
    verdicts replay bit-identically in the DuckDB twin.
    """
    toks = _tokens()
    lower_toks = F.transform(toks, F.lower)
    lines = F.split(F.col("text"), "\n")
    nonnull = F.col("text").isNotNull()

    words = F.size(toks).cast("bigint")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    mwl = F.try_divide(sum_len, words)
    syms = F.regexp_count(F.col("text"), F.lit(r"[#…]|\.\.\.")).cast("bigint")
    nlines = F.size(lines).cast("bigint")
    bullet_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike("^[-*•]"))
    ).cast("bigint")
    ell_lines = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
    ).cast("bigint")
    alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("bigint")
    stop_kinds = F.size(
        F.array_intersect(
            F.array_distinct(lower_toks),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )

    def rule(c: F.Column) -> F.Column:
        # NULL text / zero denominators must land FALSE, not NULL (and
        # never TRUE via a legacy size(NULL) = -1): gate on nonnull and
        # collapse NULL comparisons
        return F.coalesce(c & nonnull, F.lit(False))

    r_words = rule(words.between(min_words, max_words))
    r_mwl = rule(mwl.between(mwl_lo, mwl_hi))
    r_symbols = rule(F.try_divide(syms, words) <= max_symbol_ratio)
    r_bullets = rule(F.try_divide(bullet_lines, nlines) <= max_bullet_frac)
    r_ellipsis = rule(F.try_divide(ell_lines, nlines) <= max_ellipsis_frac)
    r_alpha = rule(F.try_divide(alpha_words, words) >= min_alpha_frac)
    r_stop = rule(stop_kinds >= min_stop_kinds)

    docs = io.read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        words.alias("words"),
        F.round(mwl, 6).alias("mean_word_len"),
        stop_kinds.alias("stop_kinds"),
        r_words.alias("r_words"),
        r_mwl.alias("r_mean_word_len"),
        r_symbols.alias("r_symbols"),
        r_bullets.alias("r_bullets"),
        r_ellipsis.alias("r_ellipsis"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stopwords"),
        (
            r_words & r_mwl & r_symbols & r_bullets & r_ellipsis & r_alpha & r_stop
        ).alias("keep"),
    )


GOPHER_RULES_SQL = r"""
WITH t AS (
    SELECT doc_id, text,
           string_split_regex(trim(text), '\s+') AS toks,
           string_split(text, chr(10)) AS lines
    FROM documents
), m AS (
    SELECT doc_id, text IS NOT NULL AS nonnull,
           CAST(len(toks) AS BIGINT) AS words,
           list_aggregate(list_transform(toks, t -> CAST(length(t) AS DOUBLE)), 'sum') AS sum_len,
           CAST(len(regexp_extract_all(text, '[#…]|\.\.\.')) AS BIGINT) AS syms,
           CAST(len(lines) AS BIGINT) AS nlines,
           CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS bullet_lines,
           CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS BIGINT) AS ell_lines,
           CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
           len(list_intersect(list_distinct(list_transform(toks, t -> lower(t))),
                              ['the','be','to','of','and','that','have','with'])) AS stop_kinds
    FROM t
)
SELECT doc_id, words,
       round(sum_len / nullif(words, 0), 6) AS mean_word_len,
       CAST(stop_kinds AS INTEGER) AS stop_kinds,
       coalesce((words BETWEEN 15 AND 100000) AND nonnull, false) AS r_words,
       coalesce((sum_len / nullif(words, 0) BETWEEN 3.0 AND 10.0) AND nonnull, false) AS r_mean_word_len,
       coalesce((syms * 1.0 / nullif(words, 0) <= 0.1) AND nonnull, false) AS r_symbols,
       coalesce((bullet_lines * 1.0 / nullif(nlines, 0) <= 0.9) AND nonnull, false) AS r_bullets,
       coalesce((ell_lines * 1.0 / nullif(nlines, 0) <= 0.3) AND nonnull, false) AS r_ellipsis,
       coalesce((alpha_words * 1.0 / nullif(words, 0) >= 0.8) AND nonnull, false) AS r_alpha,
       coalesce((stop_kinds >= 1) AND nonnull, false) AS r_stopwords,
       coalesce((words BETWEEN 15 AND 100000)
                AND (sum_len / nullif(words, 0) BETWEEN 3.0 AND 10.0)
                AND (syms * 1.0 / nullif(words, 0) <= 0.1)
                AND (bullet_lines * 1.0 / nullif(nlines, 0) <= 0.9)
                AND (ell_lines * 1.0 / nullif(nlines, 0) <= 0.3)
                AND (alpha_words * 1.0 / nullif(words, 0) >= 0.8)
                AND (stop_kinds >= 1) AND nonnull, false) AS keep
FROM m
"""


def span_dedup(
    spark: SparkSession,
    sf_dir: str,
    n: int = 8,
    min_count: int = 2,
    flag_frac: float = 0.5,
) -> DataFrame:
    """Exact substring (word n-gram span) deduplication after Lee et
    al., "Deduplicating Training Data Makes Language Models Better"
    (2022): every length-``n`` word window in the corpus is hashed
    (portable md5 over the space-joined tokens); a span occurrence is
    a duplicate when its span text appears ≥ ``min_count`` times
    corpus-wide (cross-doc AND within-doc repeats both count, as in
    the paper's suffix-array formulation). Output is one audit row per
    document: (doc_id, n_spans, dup_spans, dup_frac, flagged) —
    documents shorter than ``n`` words (or NULL text) have zero spans
    and a NULL dup_frac.

    100 TB design: spans ≈ corpus token count — large but LINEAR, and
    the plan is explode → partial-agg count per hash (map-side combine
    collapses each hot span to one row) → join occurrences back on the
    SAME hash key (co-partitioned after the agg; hot spans are exactly
    the AQE skew-join-splittable case, which a count-over-window would
    NOT be — a window moves and buffers every occurrence of a hot span
    in one task) → per-doc agg. Payload text never shuffles: only
    (doc_id, 16-byte hash) rows move.
    """
    docs = io.read_table(spark, sf_dir, "documents")
    toks = _tokens()
    nspan = F.greatest(
        F.coalesce(F.size(toks) - (n - 1), F.lit(0)), F.lit(0)
    )
    # sequence(1, 0) yields a DESCENDING [1, 0] rather than an empty
    # array — the when-guard is load-bearing, not defensive
    spans = F.when(
        nspan >= 1,
        F.transform(
            F.sequence(F.lit(1), nspan),
            lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = docs.select("doc_id", F.explode(spans).alias("h"))
    cnts = occ.groupBy("h").agg(F.count("*").alias("cnt"))
    per_doc = (
        occ.join(cnts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("cnt") >= min_count).cast("bigint")).alias("dup_spans"),
        )
    )
    n_spans = F.coalesce("n_spans", F.lit(0)).alias("n_spans")
    dup_spans = F.coalesce("dup_spans", F.lit(0)).alias("dup_spans")
    dup_frac = F.round(
        F.try_divide(F.coalesce("dup_spans", F.lit(0)), F.coalesce("n_spans", F.lit(0))), 6
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        n_spans,
        dup_spans,
        dup_frac.alias("dup_frac"),
        F.coalesce(dup_frac >= flag_frac, F.lit(False)).alias("flagged"),
    )


SPAN_DEDUP_SQL = r"""
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
    FROM documents
), idx AS (
    SELECT doc_id, toks,
           unnest(range(1, greatest(coalesce(len(toks) - 7, 0), 0) + 1)) AS i
    FROM t
), occ AS (
    SELECT doc_id, md5(array_to_string(toks[i : i + 7], ' ')) AS h FROM idx
), cnts AS (
    SELECT h, count(*) AS cnt FROM occ GROUP BY h
), per_doc AS (
    SELECT doc_id, count(*) AS n_spans,
           CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans
    FROM occ JOIN cnts USING (h) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_spans, 0) AS n_spans,
       coalesce(p.dup_spans, 0) AS dup_spans,
       round(coalesce(p.dup_spans, 0) / nullif(coalesce(p.n_spans, 0), 0), 6) AS dup_frac,
       coalesce(round(coalesce(p.dup_spans, 0) / nullif(coalesce(p.n_spans, 0), 0), 6) >= 0.5,
                false) AS flagged
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID by stopword-family hits (n-gram-lite).

    argmax over per-language distinct-stopword hits, deterministic
    tiebreak by language code; 'und' when nothing matches.
    """
    docs = io.read_table(spark, sf_dir, "documents")
    toks = _tokens()
    hits = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in STOPWORDS.items()
    }
    # coalesce: NULL text → NULL hits → 'und' ("cannot identify"), in
    # BOTH engines — without it Spark's un-defaulted when-chain yields
    # NULL while the SQL twin's ELSE branch fires (found by the
    # random-corpus fuzz gate, tests/test_oracle_fuzz.py)
    best = F.coalesce(F.greatest(*hits.values()), F.lit(0))
    pred = F.when(best <= 0, "und")
    for lang in sorted(STOPWORDS):  # sorted → deterministic tiebreak
        pred = pred.when(hits[lang] == best, lang)
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        pred.alias("lang_pred"),
    )


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        "len(list_intersect(list_distinct(string_split_regex(trim(text), '\\s+')),"
        f" [{words}]))"
    )


LANG_ID_SQL = f"""
WITH scored AS (
    SELECT doc_id, lang AS lang_actual,
           {_lang_hits_sql('en')} AS h_en,
           {_lang_hits_sql('es')} AS h_es,
           {_lang_hits_sql('de')} AS h_de
    FROM documents
)
SELECT doc_id, lang_actual,
       CASE WHEN coalesce(greatest(h_en, h_es, h_de), 0) <= 0 THEN 'und'
            WHEN h_de = greatest(h_en, h_es, h_de) THEN 'de'
            WHEN h_en = greatest(h_en, h_es, h_de) THEN 'en'
            ELSE 'es' END AS lang_pred
FROM scored
"""


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercase, punctuation stripped, whitespace collapsed)."""
    from lakeflow.ext.dedup import normalized_docs

    docs = normalized_docs(spark, sf_dir)
    return docs.select("doc_id", F.md5("norm").alias("fingerprint"))


FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint
FROM documents
WHERE text IS NOT NULL  -- the normalized tier's filter (no content, no fingerprint)
"""


def winnow_fingerprints_portable(
    spark: SparkSession, sf_dir: str, k: int = 8, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash family): hash every
    character k-gram of the normalized text, then keep the minimum hash
    of each sliding window of ``window`` consecutive k-grams — the
    classic local-algorithm guarantee that any shared substring of
    length >= k+window-1 yields at least one shared fingerprint. The
    gram hash is the portable md5-derived 32-bit hash
    (``dedup.md5_prefix``), so DuckDB reproduces the exact fingerprints
    (WINNOW_SQL); they come out as scalar (doc_id, n_grams,
    fingerprint) rows so the oracle's value-hash compare sees only
    scalar columns.

    Row-wise plan, NOT an explode over per-document hash arrays:
    collapsing a Generate into an array pipeline re-inlines the k-gram
    hash array into every window term (O(len²) per row — measured: an
    explode of array fingerprints hangs at sf0.001 where this runs in
    seconds). The explode happens BEFORE the
    hashing — gram POSITIONS fan out, then md5 runs as a plain
    post-explode projection inside whole-stage codegen (md5 inside an
    array lambda is interpreted per element: measured ~10× slower).
    Each gram hash is computed exactly once, the window minimum is a
    rows-between running min — one shuffle on doc_id, memory bounded
    per ROW rather than per document, which is also the safer shape for
    100 TB corpora with long documents.
    """
    from pyspark.sql import Window
    from lakeflow.ext.dedup import md5_prefix

    docs = io.read_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), r"\s+", " "
        )
    )
    staged = docs.select("doc_id", norm.alias("norm")).filter(
        F.length("norm") >= k + window - 1
    )
    # (doc_id, n_grams, norm, gram position 1..n_grams) — `col` is the
    # 1-based gram start from the exploded sequence
    rows = staged.select(
        "doc_id",
        (F.length("norm") - k + 1).alias("n_grams"),
        "norm",
        F.posexplode(F.sequence(F.lit(1), F.length("norm") - k + 1)),
    )
    hashed = rows.select(
        "doc_id",
        "n_grams",
        F.col("col").alias("gpos"),
        md5_prefix(F.expr(f"substring(norm, col, {k})")).alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy("gpos").rowsBetween(0, window - 1)
    return (
        hashed.withColumn("fp", F.min("h").over(w))
        .filter(F.col("gpos") <= F.col("n_grams") - window + 1)
        .select("doc_id", "n_grams", F.col("fp").alias("fingerprint"))
        .distinct()
        .orderBy("doc_id", "fingerprint")
    )


WINNOW_SQL = """
WITH staged AS (
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g')) AS norm
    FROM documents WHERE text IS NOT NULL
), grams AS (
    SELECT doc_id, length(norm) - 8 + 1 AS n_grams,
           list_transform(range(1, length(norm) - 8 + 2),
                          i -> CAST('0x' || substr(md5(substr(norm, CAST(i AS INTEGER), 8)), 1, 8) AS BIGINT)) AS gh
    FROM staged WHERE length(norm) >= 8 + 4 - 1
), mins AS (
    SELECT doc_id, n_grams,
           list_distinct(list_transform(range(1, len(gh) - 4 + 2),
                                        j -> list_min(gh[j:j+3]))) AS fps
    FROM grams
)
SELECT doc_id, n_grams, unnest(fps) AS fingerprint
FROM mins ORDER BY doc_id, fingerprint
"""


def tfidf_top_terms(
    spark: SparkSession, sf_dir: str, top_k: int = 5, min_df: int = 2
) -> DataFrame:
    """Top-k terms per language by corpus TF-IDF — the
    vocabulary-building / keyword-extraction primitive of a text
    pipeline.

    Plan shape at scale: explode tokens → (lang, term) aggregate for
    TF+DF (the COUNT(DISTINCT doc_id) plans as the standard two-phase
    expand: a (lang, term, doc_id) partial-distinct exchange feeding the
    (lang, term) final — both map-side combined), a tiny per-lang
    doc-count broadcast join, then a per-lang top-k window over the
    (small) term relation. The corpus itself is scanned once.

    tf = total occurrences of term in the lang's docs; idf uses the
    smoothed ln((1+N)/(1+df)) so single-lang corpora don't zero out.
    Deterministic tiebreak by term; rounded score → oracle-stable.
    """
    from pyspark.sql import Window

    docs = io.read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT),
                lambda t: t != "",
            )
        ).alias("term"),
    )
    stats = toks.groupBy("lang", "term").agg(
        F.count("*").cast("bigint").alias("tf"),
        F.countDistinct("doc_id").cast("bigint").alias("df"),
    )
    ndocs = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    from pyspark.sql.functions import broadcast as _bc

    scored = (
        stats.join(_bc(ndocs), "lang")
        .filter(F.col("df") >= min_df)
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((1 + F.col("n_docs")) / (1 + F.col("df"))),
                6,
            ),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("tfidf"), F.desc("tf"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= top_k)
        .select("lang", "term", "tf", "df", "tfidf", "rnk")
        .orderBy("lang", "rnk")
    )


TFIDF_SQL = f"""
WITH toks AS (
    SELECT doc_id, lang, t AS term
    FROM documents, UNNEST(string_split_regex(lower(trim(text)), '{TOKEN_SPLIT}')) AS u(t)
    WHERE text IS NOT NULL AND t != ''
), stats AS (
    SELECT lang, term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM toks GROUP BY lang, term
), nd AS (
    SELECT lang, COUNT(*) AS n_docs FROM documents WHERE text IS NOT NULL GROUP BY lang
), scored AS (
    SELECT s.lang, s.term, s.tf, s.df,
           round(s.tf * ln((1 + nd.n_docs) / (1 + s.df)), 6) AS tfidf
    FROM stats s JOIN nd ON s.lang = nd.lang
    WHERE s.df >= 2
), ranked AS (
    SELECT lang, term, tf, df, tfidf,
           CAST(row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, tf DESC, term) AS INTEGER) AS rnk
    FROM scored
)
SELECT lang, term, tf, df, tfidf, rnk FROM ranked WHERE rnk <= 5 ORDER BY lang, rnk
"""


def char_pair_freqs(spark: SparkSession, sf_dir: str, k: int = 30) -> DataFrame:
    """Top adjacent character-pair frequencies over the normalized
    corpus — the statistic the first merge round of BPE vocabulary
    training computes (the full trainer iterates this count with a
    merged alphabet).

    The normalized text is STAGED as its own projection before the
    index lambda touches it (Catalyst re-evaluates captured non-
    attribute expressions per array element — the §9 SCALE.md lambda
    trap), so the pair fan-out is O(chars), one explode, one
    partial-aggregated shuffle of (pair, count).
    """
    docs = io.read_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", "")
    staged = docs.select("doc_id", norm.alias("txt")).filter(F.length("txt") >= 2)
    pairs = staged.select(
        F.explode(
            F.expr("transform(sequence(1, length(txt) - 1), i -> substr(txt, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(k)
    )


CHAR_PAIR_SQL = """
WITH staged AS (
    SELECT regexp_replace(lower(text), '[^a-z ]', '', 'g') AS txt FROM documents
), idx AS (
    SELECT txt, unnest(generate_series(1, length(txt) - 1)) AS i
    FROM staged WHERE length(txt) >= 2
), pairs AS (
    SELECT substr(txt, i, 2) AS pair FROM idx
)
SELECT pair, CAST(count(*) AS BIGINT) AS cnt
FROM pairs
GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT 30
"""


# --------------------------------------------------------------------------
# Curation filters (Dolma/FineWeb-style): PII redaction, benchmark
# contamination, repetition. All pure built-in expressions — regex and
# array functions run JVM-side, nothing leaves codegen.
# --------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b555-[0-9]{1,4}\b"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents: count and redact email/phone
    matches (regexp_extract_all + chained regexp_replace, one
    projection, no shuffle — at 100 TB this is a pure map stage).

    The synthetic corpus contains no PII, so a deterministic augmenter
    plants one email + one phone in every 7th document FIRST — the
    redaction then provably finds and removes exactly those (the
    redacted-text md5 is value-checked against the oracle, so a regex
    that over- or under-matches fails the hash, not just a count).
    """
    docs = io.read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    aug = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            (F.col("doc_id") % 10000).cast("string"),
            F.lit(" now"),
        ),
    ).otherwise(F.col("text"))
    return (
        docs.select("doc_id", aug.alias("_aug"))
        .select(
            "doc_id",
            # regexes embedded in SQL string literals re-parse escapes:
            # '\b' would become a backspace character — double them
            F.size(
                F.expr(f"regexp_extract_all(_aug, '{_EMAIL_RE.replace(chr(92), chr(92)*2)}', 0)")
            ).cast("int").alias("n_emails"),
            F.size(
                F.expr(f"regexp_extract_all(_aug, '{_PHONE_RE.replace(chr(92), chr(92)*2)}', 0)")
            ).cast("int").alias("n_phones"),
            F.md5(
                F.regexp_replace(
                    F.regexp_replace(F.col("_aug"), _EMAIL_RE, "[EMAIL]"),
                    _PHONE_RE,
                    "[PHONE]",
                )
            ).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


PII_REDACT_SQL = r"""
WITH aug AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0
                THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-' || CAST(doc_id % 10000 AS VARCHAR) || ' now'
                ELSE text END AS a
    FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(len(regexp_extract_all(a, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(a, '\b555-[0-9]{1,4}\b')) AS INTEGER) AS n_phones,
       md5(regexp_replace(regexp_replace(a, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'), '\b555-[0-9]{1,4}\b', '[PHONE]', 'g')) AS redacted_md5
FROM aug ORDER BY doc_id
"""


# Stand-in benchmark shingles: in production this list is the eval
# suite's n-gram inventory, broadcast (or bloom-filtered) against the
# corpus. Chosen to have hits at every test SF.
EVAL_NGRAMS = (
    "table table",
    "fast table value",
    "spark data vector",
    "the row a",
)


def contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: documents whose normalized text
    contains any eval-set n-gram (word-boundary-safe via space
    padding). Pure map stage over the materialized normalized tier
    (dedup.normalized_docs) — each doc is checked against the tiny eval
    inventory locally; no join, no shuffle. Reading the STORED norm
    column matters: filtering on a column derived inline from the regex
    chain re-evaluates the chain once per pushed-predicate consumer
    (sf1: 6.6 s inline vs 0.35 s via the tier). At real eval-suite
    sizes (millions of shingles) this becomes a broadcast semi join on
    exploded document shingles — same verdict, one shuffle."""
    from lakeflow.ext.dedup import normalized_docs

    nd = normalized_docs(spark, sf_dir)
    padded = F.concat(F.lit(" "), F.col("norm"), F.lit(" "))
    hits = sum(
        F.when(padded.contains(f" {ng} "), 1).otherwise(0) for ng in EVAL_NGRAMS
    )
    return (
        nd.select("doc_id", hits.cast("int").alias("eval_hits"))
        .filter(F.col("eval_hits") > 0)
        .orderBy("doc_id")
    )


CONTAMINATION_SQL = r"""
WITH norm AS (
    SELECT doc_id,
           ' ' || trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')) || ' ' AS t
    FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST((CASE WHEN t LIKE '% table table %' THEN 1 ELSE 0 END)
          + (CASE WHEN t LIKE '% fast table value %' THEN 1 ELSE 0 END)
          + (CASE WHEN t LIKE '% spark data vector %' THEN 1 ELSE 0 END)
          + (CASE WHEN t LIKE '% the row a %' THEN 1 ELSE 0 END) AS INTEGER) AS eval_hits
FROM norm
WHERE t LIKE '% table table %' OR t LIKE '% fast table value %'
   OR t LIKE '% spark data vector %' OR t LIKE '% the row a %'
ORDER BY doc_id
"""


def repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition metrics per document: duplicate-token ratio and
    duplicate-trigram ratio (1 - distinct/total) — the FineWeb-style
    quality signals that catch boilerplate and degenerate generations.
    Array-function-only (no explode → no row blow-up, no shuffle)."""
    from lakeflow.ext.dedup import normalized_docs, tokenized

    docs = normalized_docs(spark, sf_dir)
    t = tokenized(docs)
    idx = F.sequence(F.lit(0), F.greatest(F.size("tokens") - 3, F.lit(0)))
    tri = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col("tokens"), i + 1, 3)))
    return (
        t.select("doc_id", "tokens", tri.alias("trigrams"))
        .select(
            "doc_id",
            F.size("tokens").cast("int").alias("n_tokens"),
            F.round(
                1.0 - F.size(F.array_distinct("tokens")).cast("double") / F.size("tokens"), 6
            ).alias("dup_token_ratio"),
            F.round(
                1.0 - F.size(F.array_distinct("trigrams")).cast("double") / F.size("trigrams"),
                6,
            ).alias("dup_trigram_ratio"),
        )
        .orderBy("doc_id")
    )


REPETITION_SQL = r"""
WITH tok AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')), '\s+') AS tokens
    FROM documents WHERE text IS NOT NULL
), sh AS (
    SELECT doc_id, tokens,
           list_transform(range(1, greatest(len(tokens) - 3, 0) + 2),
                          i -> array_to_string(tokens[i:i+2], ' ')) AS trigrams
    FROM tok
)
SELECT doc_id,
       CAST(len(tokens) AS INTEGER) AS n_tokens,
       round(1.0 - CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens), 6) AS dup_token_ratio,
       round(1.0 - CAST(len(list_distinct(trigrams)) AS DOUBLE) / len(trigrams), 6) AS dup_trigram_ratio
FROM sh ORDER BY doc_id
"""


BM25_TERMS = ("spark", "window", "vector")


def bm25_scores(
    spark: SparkSession, sf_dir: str, terms: tuple[str, ...] = BM25_TERMS,
    k1: float = 1.2, b: float = 0.75, top: int = 20,
) -> DataFrame:
    """BM25 retrieval scoring over documents for a fixed query — the
    relevance-selection operator a training pipeline uses to pull
    domain-matched data out of a 100 TB corpus.

    The inverted-index shape, all codegen: explode tokens, keep ONLY
    query-term hits (`isin` — codegen'd, unlike higher-order array
    lambdas, which Spark evaluates interpreted and which made the
    previous array-`filter` formulation 8× slower at sf1), then one
    grouped conditional-count pass yields per-doc TFs for docs with ≥1
    hit — exactly the docs that can score. Corpus stats (size, avgdl)
    and per-term DFs form a single scalar row broadcast back via a
    1-row cross join, the uncorrelated-scalar-subquery shape of
    q_scalar_subquery. Scoring is a pure map expression;
    TakeOrderedAndProject caps the output. The shuffle carries only
    matching tokens (∝ query-term hits, not corpus tokens). Scores
    round to 6dp BEFORE ranking so ordering is stable across engines
    (libm ln() ulp differences sit far below 1e-6)."""
    from lakeflow.ext.dedup import normalized_docs

    nd = normalized_docs(spark, sf_dir)
    t0 = nd.select(
        "doc_id", F.split("norm", " ").alias("tokens")
    ).select("doc_id", F.size("tokens").alias("dl"), "tokens")
    stats0 = t0.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tok = t0.select("doc_id", "dl", F.explode("tokens").alias("tok")).filter(
        F.col("tok").isin(*terms)
    )
    tf = tok.groupBy("doc_id", "dl").agg(
        *[
            F.count(F.when(F.col("tok") == term, True)).alias(f"tf_{term}")
            for term in terms
        ]
    )
    dfs = tf.agg(
        *[F.sum((F.col(f"tf_{term}") > 0).cast("int")).alias(f"df_{term}") for term in terms]
    )
    stats = stats0.join(dfs)  # 1 row × 1 row
    scored = tf.join(F.broadcast(stats))
    score = None
    for term in terms:
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{term}") + 0.5)
            / (F.col(f"df_{term}") + 0.5)
            + 1.0
        )
        part = idf * (F.col(f"tf_{term}") * (k1 + 1)) / (
            F.col(f"tf_{term}") + k1 * ((1 - b) + b * F.col("dl") / F.col("avgdl"))
        )
        score = part if score is None else score + part
    return (
        scored.select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(top)
    )


BM25_SQL = r"""
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
)
SELECT doc_id,
       round(
         ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0) * (tf_spark * 2.2) / (tf_spark + 1.2 * (0.25 + 0.75 * dl / avgdl))
       + ln((n_docs - df_window + 0.5) / (df_window + 0.5) + 1.0) * (tf_window * 2.2) / (tf_window + 1.2 * (0.25 + 0.75 * dl / avgdl))
       + ln((n_docs - df_vector + 0.5) / (df_vector + 0.5) + 1.0) * (tf_vector * 2.2) / (tf_vector + 1.2 * (0.25 + 0.75 * dl / avgdl))
       , 6) AS bm25
FROM tf, stats, df
WHERE tf_spark + tf_window + tf_vector > 0
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Bloom-filter benchmark decontamination (r6)
# ---------------------------------------------------------------------------

# Tiny test-scale filter: 256 bits / 2 hashes over a ~5% benchmark
# slice yields a measurable false-positive rate (~3%) so BOTH verdict
# classes exist in the output. Production sizes m for its eval suite
# (m = -n·ln(p)/ln(2)², e.g. 10M shingles at p=1e-6 → ~36 MB), still a
# broadcast.
BLOOM_M = 256
BLOOM_K = 2
BLOOM_EVAL_MOD = 20


def _bloom_positions(fp: F.Column, k: int, m: int) -> F.Column:
    """The k bit positions of a fingerprint: portable md5-derived
    hashes (dedup.md5_prefix arithmetic) salted per hash index, mod m —
    bit-identical in any md5-bearing engine."""
    from lakeflow.ext.dedup import md5_prefix

    return F.array(
        *[
            F.pmod(md5_prefix(F.concat(fp, F.lit(f"#{i}"))), F.lit(m))
            for i in range(k)
        ]
    )


def bloom_decontam(
    spark: SparkSession,
    sf_dir: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    eval_mod: int = BLOOM_EVAL_MOD,
) -> DataFrame:
    """Bloom-filter benchmark decontamination: flag training-pool
    documents whose normalized fingerprint MIGHT be in the held-out
    benchmark slice (here the synthetic ``doc_id % eval_mod == 0``
    docs; a deployment points this at its eval suites), with the
    exact verdict alongside so false positives are auditable.

    Why a Bloom filter and not the q_contamination semi-join: at
    100 TB the corpus side must not shuffle. The benchmark set is
    folded into an m-BIT bitset (one bounded aggregate over the SMALL
    side), broadcast as a single array row, and the corpus pass is
    map-only — each doc computes its k positions and tests membership
    locally. A semi-join on fingerprints would shuffle the full corpus
    fingerprint column; the bitset costs m/8 bytes regardless of
    corpus size. False positives (bloom_hit without an exact
    fingerprint match) are the documented price; the exact_hit column
    measures them (a deployment re-checks flagged docs exactly —
    the flagged set is tiny, so the exact pass is cheap).

    Certification: md5-derived positions and the bitset replay
    bit-identically in DuckDB (same md5_prefix arithmetic as the MinHash
    family), so bloom_hit — false positives included — is
    engine-exact.
    """
    from lakeflow.ext.dedup import normalized_docs

    nd = normalized_docs(spark, sf_dir).select(
        "doc_id", F.md5("norm").alias("fp")
    )
    eval_set = nd.filter(F.col("doc_id") % eval_mod == 0)
    bits = eval_set.select(
        F.explode(_bloom_positions(F.col("fp"), k, m)).alias("p")
    ).agg(F.sort_array(F.collect_set("p")).alias("bits"))
    eval_fps = (
        eval_set.select("fp").distinct().withColumn("exact_hit", F.lit(True))
    )
    corpus = nd.filter(F.col("doc_id") % eval_mod != 0)
    pos = _bloom_positions(F.col("fp"), k, m)
    return (
        corpus.crossJoin(F.broadcast(bits))
        .withColumn(
            "bloom_hit",
            F.forall(pos, lambda p: F.array_contains(F.col("bits"), p)),
        )
        .filter(F.col("bloom_hit"))
        .join(F.broadcast(eval_fps), "fp", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("exact_hit"), F.lit(False)).alias("exact_hit"),
        )
        .orderBy("doc_id")
    )


def _bloom_pos_sql(fp_expr: str, i: int, m: int) -> str:
    return (
        f"CAST('0x' || substr(md5({fp_expr} || '#{i}'), 1, 8) AS BIGINT) % {m}"
    )


BLOOM_DECONTAM_SQL = rf"""
WITH norm AS (
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))) AS fp
    FROM documents WHERE text IS NOT NULL
), ev AS (
    SELECT * FROM norm WHERE doc_id % {BLOOM_EVAL_MOD} = 0
), pos AS (
    SELECT DISTINCT unnest([{_bloom_pos_sql('fp', 0, BLOOM_M)},
                            {_bloom_pos_sql('fp', 1, BLOOM_M)}]) AS p
    FROM ev
), bits AS (
    SELECT list(p ORDER BY p) AS bits FROM pos
)
SELECT c.doc_id,
       coalesce(c.fp IN (SELECT fp FROM ev), false) AS exact_hit
FROM norm c, bits b
WHERE c.doc_id % {BLOOM_EVAL_MOD} <> 0
  AND list_has_all(b.bits, [{_bloom_pos_sql('c.fp', 0, BLOOM_M)},
                            {_bloom_pos_sql('c.fp', 1, BLOOM_M)}])
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# fastText-style hashed linear quality classifier (r6)
# ---------------------------------------------------------------------------

QC_BUCKETS = 256


def _qc_weights(buckets: int = QC_BUCKETS) -> list[int]:
    """Deterministic stand-in weight table in milli-units ∈ [-1000,
    1000] (md5-derived per bucket — a deployment loads its TRAINED
    vector here; the plan is identical because the weights enter as a
    literal array either way)."""
    import hashlib

    return [
        int(hashlib.md5(f"w#{b}".encode()).hexdigest()[:8], 16) % 2001 - 1000
        for b in range(buckets)
    ]


def quality_classifier(
    spark: SparkSession,
    sf_dir: str,
    buckets: int = QC_BUCKETS,
    threshold: float = 0.5,
) -> DataFrame:
    """fastText-style linear quality classifier (the CCNet /
    FineWeb-Edu model-based filter shape): hashed unigram+bigram
    bag-of-words, mean bucket weight through a sigmoid, keep at
    ``threshold``. The model is a ``buckets``-sized weight vector —
    the hashing trick bounds it regardless of vocabulary, so it
    inlines as a literal array (or broadcasts, at real sizes) and the
    whole classifier is ONE map stage: zero shuffles, whole-stage
    codegen, cost = the scan. That is the production plan for scoring
    100 TB with a linear model; nothing here depends on the weights
    being synthetic.

    Certification: feature hashing is the portable md5 arithmetic;
    per-doc weight sums are INTEGER (milli-units) so accumulation
    order cannot drift; the single double division + sigmoid rounds
    to 6 dp (same argument as the certified bigram-LM perplexity).
    """
    from lakeflow.ext.dedup import md5_prefix, normalized_docs, tokenized

    warr = F.array(*[F.lit(w) for w in _qc_weights(buckets)])
    toks = tokenized(normalized_docs(spark, sf_dir)).select(
        "doc_id", F.filter("tokens", lambda t: t != "").alias("toks")
    )
    nbi = F.greatest(F.size("toks") - 1, F.lit(0))
    bigrams = F.when(
        nbi >= 1,
        F.transform(
            F.sequence(F.lit(1), nbi),
            lambda i: F.concat(
                F.element_at(F.col("toks"), i),
                F.lit(" "),
                F.element_at(F.col("toks"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = toks.select("doc_id", F.concat(F.col("toks"), bigrams).alias("feats"))

    def weight_of(f: F.Column) -> F.Column:
        idx = (F.pmod(md5_prefix(f), F.lit(buckets)) + 1).cast("int")
        return F.element_at(warr, idx).cast("bigint")

    wsum = F.aggregate(
        "feats", F.lit(0).cast("bigint"), lambda s, f: s + weight_of(f)
    )
    n = F.size("feats").cast("bigint")
    raw = F.try_divide(wsum, F.lit(1000.0) * n)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)), 6)
    return feats.select(
        "doc_id",
        n.alias("n_feats"),
        score.alias("score"),
        F.coalesce(score >= threshold, F.lit(False)).alias("keep"),
    ).orderBy("doc_id")


def _qc_sql(buckets: int = QC_BUCKETS, threshold: float = 0.5) -> str:
    warr = "[" + ", ".join(str(w) for w in _qc_weights(buckets)) + "]"
    h32 = "CAST('0x' || substr(md5(f), 1, 8) AS BIGINT)"
    return rf"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '') AS toks
    FROM documents WHERE text IS NOT NULL
), feat AS (
    SELECT doc_id,
           list_concat(toks, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS feats
    FROM tok
), scored AS (
    SELECT doc_id,
           CAST(len(feats) AS BIGINT) AS n_feats,
           coalesce(list_aggregate(list_transform(feats, f -> ({warr})[{h32} % {buckets} + 1]), 'sum'), 0) AS wsum
    FROM feat
)
SELECT doc_id, n_feats,
       round(1.0 / (1.0 + exp(-(wsum / nullif(1000.0 * n_feats, 0.0)))), 6) AS score,
       coalesce(round(1.0 / (1.0 + exp(-(wsum / nullif(1000.0 * n_feats, 0.0)))), 6) >= {threshold}, false) AS keep
FROM scored
ORDER BY doc_id
"""


QUALITY_CLASSIFIER_SQL = _qc_sql()


def quality_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble quality score (r8) — the FineWeb-Edu / DCLM "multiple
    filters, one decision" shape: three certified quality signals are
    rank-NORMALIZED onto [0, 1] and averaged, so signals with
    incomparable units (a sigmoid score, a repetition ratio, a
    stopword count) blend without hand-tuned scaling, and a corpus
    re-mix can threshold one column instead of re-calibrating three.

    Signals (direction folded into the rank):
    - ``quality_classifier.score`` — higher is better
    - ``repetition.dup_token_ratio`` — LOWER is better (rank desc)
    - ``doc_quality.en_stopword_kinds`` — higher is better

    Scale design — exact percent_rank WITHOUT the corpus-wide window:
    a global ``Window.orderBy(...)`` puts every row in ONE partition
    (the single-reducer hazard SCALE.md §9 documents), so each rank is
    computed from the signal's VALUE HISTOGRAM instead: groupBy(value)
    → count (partial-aggregable shuffle, |V|-sized result), a running
    sum over the |V|-row histogram (the only window, bounded by
    distinct signal values — ≤ 1e6+1 for a 6dp score — never by corpus
    size), and a broadcast join back onto the doc stream. percent_rank
    ≡ (#rows strictly better-ranked predecessors)/(n-1) — identical to
    SQL PERCENT_RANK min-rank semantics, which is exactly what the
    DuckDB oracle uses (window form), making the two derivations
    independent. The doc population (docs with all three signals
    non-null — empty docs have NULL score/ratio) is persisted because
    it feeds three histograms plus the final projection (the
    multi-consumer re-derivation trap, measured in quantile_hist).
    """
    from pyspark.sql import Window

    base = (
        quality_classifier(spark, sf_dir)
        .select("doc_id", "score")
        .join(repetition(spark, sf_dir).select("doc_id", "dup_token_ratio"), "doc_id")
        .join(doc_quality(spark, sf_dir).select("doc_id", "en_stopword_kinds"), "doc_id")
        .filter(F.col("score").isNotNull() & F.col("dup_token_ratio").isNotNull())
        .persist()
    )
    n = base.agg(F.count("*").alias("n"))

    def pct_rank(col: str, ascending: bool, out: str) -> DataFrame:
        order = F.col(col).asc() if ascending else F.col(col).desc()
        w = (
            Window.orderBy(order)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        hist = base.groupBy(col).agg(F.count("*").alias("c"))
        return (
            hist.select(
                col, F.coalesce(F.sum("c").over(w), F.lit(0)).alias("before")
            )
            .crossJoin(F.broadcast(n))
            .select(
                col,
                (
                    F.col("before").cast("double")
                    / F.greatest(F.col("n") - 1, F.lit(1)).cast("double")
                ).alias(out),
            )
        )

    return (
        base.join(F.broadcast(pct_rank("score", True, "pr_model")), "score")
        .join(
            F.broadcast(pct_rank("dup_token_ratio", False, "pr_repetition")),
            "dup_token_ratio",
        )
        .join(
            F.broadcast(pct_rank("en_stopword_kinds", True, "pr_stopword")),
            "en_stopword_kinds",
        )
        .select(
            "doc_id",
            F.round("pr_model", 6).alias("pr_model"),
            F.round("pr_repetition", 6).alias("pr_repetition"),
            F.round("pr_stopword", 6).alias("pr_stopword"),
            F.round(
                (
                    F.col("pr_model")
                    + F.col("pr_repetition")
                    + F.col("pr_stopword")
                )
                / 3.0,
                6,
            ).alias("blend"),
        )
        .orderBy("doc_id")
    )


QUALITY_BLEND_SQL = f"""
WITH base AS (
    SELECT q.doc_id, q.score, r.dup_token_ratio, d.en_stopword_kinds
    FROM ({QUALITY_CLASSIFIER_SQL}) q
    JOIN ({REPETITION_SQL}) r USING (doc_id)
    JOIN ({DOC_QUALITY_SQL}) d USING (doc_id)
    WHERE q.score IS NOT NULL AND r.dup_token_ratio IS NOT NULL
), ranked AS (
    SELECT doc_id,
           percent_rank() OVER (ORDER BY score)               AS pr_model,
           percent_rank() OVER (ORDER BY dup_token_ratio DESC) AS pr_repetition,
           percent_rank() OVER (ORDER BY en_stopword_kinds)    AS pr_stopword
    FROM base
)
SELECT doc_id,
       round(pr_model, 6) AS pr_model,
       round(pr_repetition, 6) AS pr_repetition,
       round(pr_stopword, 6) AS pr_stopword,
       round((pr_model + pr_repetition + pr_stopword) / 3.0, 6) AS blend
FROM ranked
ORDER BY doc_id
"""

"""Iterative BPE merge learning over the documents corpus.

The iterative-algorithm extension point: `q_char_pairs` (text.py)
computes the FIRST merge round's pair statistics; this module runs the
actual training loop — R rounds of (count adjacent symbol pairs →
pick the argmax pair → apply the merge corpus-wide) — the way a
tokenizer-vocabulary build runs over a training corpus.

Reference scope: the reference has no tokenizer surface; this extends
the text-analysis family (SURVEY §2.13) with the canonical iterative
corpus algorithm.

Scale design:
- The loop state is the WORD-FREQUENCY table (vocabulary-sized, not
  corpus-sized): one `explode → groupBy word` reduces the corpus to its
  distinct words once, and that one aggregate is the only Spark work.
  The driver collects the (word, freq) vocabulary and runs every merge
  round on it in plain Python — the merge rule IS driver state in every
  BPE trainer, and so is the state it rewrites. What bounds the driver
  is the number of distinct words (31 at sf0.01 and at sf0.1), not a
  parameter; per-round cost is O(vocab), and a round launches no job.
- Merge application is a single non-overlapping left-to-right string
  replace on a PAREN-WRAPPED symbol string: '(a)(b)(a)(b)'. With a
  space-separated representation, adjacent pattern occurrences SHARE
  the boundary space, so one replace pass merges only alternate
  occurrences (' a b a b ' → ' ab a b ' — not textbook BPE and needs
  an unbounded number of passes). Paren-wrapping gives each occurrence
  disjoint characters: '(a)(b)(a)(b)' → '(ab)(ab)' in one pass, while
  true self-overlap still resolves greedily ('(a)(a)(a)' → '(aa)(a)').
  Python's `str.replace` and DuckDB's `replace` implement the same
  scan, so the unrolled-CTE DuckDB oracle reproduces the learned merge
  table bit-for-bit. Symbols are [a-z0-9]+ (normalized tier), so
  parens can never appear inside a symbol.
- Ties on pair frequency break by lexicographically smallest
  'left right' pair string — deterministic across engines (ASCII
  collation both sides).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_ROUNDS = 8


def _word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary with corpus frequencies from the normalized-text tier."""
    from lakeflow.ext.dedup import normalized_docs, tokenized

    docs = normalized_docs(spark, sf_dir)
    return (
        tokenized(docs)
        .select(F.explode("tokens").alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _learn(
    words: DataFrame, rounds: int
) -> tuple[list[tuple[int, str, str, str, int]], list[tuple[str, str, int]]]:
    """The training loop, on the driver over the collected vocabulary.
    Returns (merge rules, FINAL vocabulary state as (word, r=segmented
    repr, freq) tuples)."""
    state = [(w, "".join(f"({c})" for c in w), f) for w, f in words.collect()]
    merges: list[tuple[int, str, str, str, int]] = []
    for rnd in range(1, rounds + 1):
        counts: Counter[str] = Counter()
        for _, r, f in state:
            sy = r[1:-1].split(")(")
            for a, b in zip(sy, sy[1:]):
                counts[f"{a} {b}"] += f
        if not counts:
            break
        pair, f = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        left, right = pair.split(" ")
        merges.append((rnd, left, right, left + right, f))
        state = [
            (w, r.replace(f"({left})({right})", f"({left}{right})"), n)
            for w, r, n in state
        ]
    return merges, state


def bpe_merges(
    spark: SparkSession, sf_dir: str, rounds: int = DEFAULT_ROUNDS
) -> DataFrame:
    """Learn the first ``rounds`` BPE merge rules; returns one row per
    round: (round, left_sym, right_sym, merged, freq).
    """
    merges, _ = _learn(_word_freqs(spark, sf_dir), rounds)
    return spark.createDataFrame(
        merges, "round int, left_sym string, right_sym string, merged string, freq bigint"
    ).orderBy("round")


def bpe_apply(
    spark: SparkSession, sf_dir: str, rounds: int = DEFAULT_ROUNDS
) -> DataFrame:
    """Train-then-apply: learn the merge table, then segment the WHOLE
    corpus with it and report per-language compression stats —
    (lang, docs, words, symbols, symbols_per_word). The number a
    tokenizer build actually optimizes (symbols/word falls as merges
    land) and the judge of whether merges learned on the pooled corpus
    transfer to each language.

    Scale shape: the segmentation lives on the VOCABULARY (word →
    symbol count, one small relation), so applying it corpus-wide is a
    broadcast join against the exploded word instances — no corpus-side
    string work at all; the R replace passes never touch the corpus,
    only the vocab. This is the standard trainer trick (run on word
    counts, not raw text) surfaced end-to-end.
    """
    from lakeflow.ext.dedup import normalized_docs, tokenized
    from pyspark.sql.functions import broadcast

    docs = normalized_docs(spark, sf_dir)
    inst = (
        tokenized(docs, "lang")
        .select("doc_id", "lang", F.explode("tokens").alias("word"))
        .filter(F.col("word") != "")
    )
    _, state = _learn(inst.groupBy("word").agg(F.count("*").alias("freq")), rounds)
    vocab = spark.createDataFrame(
        [(w, r.count(")(") + 1) for w, r, _ in state], "word string, n_sym int"
    )
    return (
        inst.join(broadcast(vocab), "word")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("docs"),
            F.count("*").cast("bigint").alias("words"),
            F.sum("n_sym").cast("bigint").alias("symbols"),
            F.round(F.sum("n_sym") / F.count("*"), 6).alias("symbols_per_word"),
        )
        .orderBy("lang")
    )


def _bpe_oracle_sql(rounds: int = DEFAULT_ROUNDS) -> str:
    """Unrolled-loop DuckDB twin: each round is a (top-pair, re-written
    corpus) CTE pair; the rounds UNION into the merge table."""
    ctes = [
        """words AS (
    SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split_regex(
            trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g')),
            '\\s+')) AS word
        FROM documents WHERE text IS NOT NULL
    ) WHERE word <> '' GROUP BY word
)""",
        "w0 AS (SELECT word, regexp_replace(word, '(.)', '(\\1)', 'g') AS r, freq FROM words)",
    ]
    selects = []
    for i in range(1, rounds + 1):
        ctes.append(
            f"""p{i} AS (
    SELECT pair, CAST(sum(freq) AS BIGINT) AS f FROM (
        SELECT unnest(list_transform(range(1, len(sy)), j -> sy[j] || ' ' || sy[j + 1])) AS pair, freq
        FROM (SELECT string_split(regexp_replace(r, '^\\(|\\)$', '', 'g'), ')(') AS sy, freq FROM w{i - 1})
    ) GROUP BY pair ORDER BY f DESC, pair ASC LIMIT 1
)"""
        )
        ctes.append(
            f"""w{i} AS (
    SELECT word, replace(w{i - 1}.r,
                   '(' || replace(p{i}.pair, ' ', ')(') || ')',
                   '(' || replace(p{i}.pair, ' ', '') || ')') AS r, freq
    FROM w{i - 1}, p{i}
)"""
        )
        selects.append(
            f"SELECT {i} AS round, split_part(pair, ' ', 1) AS left_sym,"
            f" split_part(pair, ' ', 2) AS right_sym,"
            f" replace(pair, ' ', '') AS merged, f AS freq FROM p{i}"
        )
    return "WITH " + ",\n".join(ctes), selects


def _merges_sql(rounds: int = DEFAULT_ROUNDS) -> str:
    prefix, selects = _bpe_oracle_sql(rounds)
    return prefix + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY round"


def _apply_sql(rounds: int = DEFAULT_ROUNDS) -> str:
    prefix, _ = _bpe_oracle_sql(rounds)
    return (
        prefix
        + f""",
inst AS (
    SELECT doc_id, lang, unnest(string_split_regex(
        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g')),
        '\\s+')) AS word
    FROM documents WHERE text IS NOT NULL
),
vocab AS (
    SELECT word,
           len(string_split(regexp_replace(r, '^\\(|\\)$', '', 'g'), ')(')) AS n_sym
    FROM w{rounds}
)
SELECT lang,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS docs,
       CAST(count(*) AS BIGINT) AS words,
       CAST(sum(n_sym) AS BIGINT) AS symbols,
       round(CAST(sum(n_sym) AS DOUBLE) / count(*), 6) AS symbols_per_word
FROM inst JOIN vocab USING (word)
WHERE word <> ''
GROUP BY lang ORDER BY lang
"""
    )


BPE_MERGES_SQL = _merges_sql()
BPE_APPLY_SQL = _apply_sql()

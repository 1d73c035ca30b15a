"""Property-based oracle fuzzing: Spark vs DuckDB on RANDOM documents
tables, not just the fixed driver testdata.

The sf gates certify against one data distribution; the sf1 overflow
and sf10 candidate-explosion findings both showed wrongness that only
specific DATA exposes. This gate attacks the remaining axis — data
SHAPE: null text/lang/source, empty strings, whitespace-only docs,
unicode (accents, CJK, emoji), singleton groups, and duplicate texts —
by generating random corpora with hypothesis, writing them as the
standard documents.parquet layout, and asserting the certified text /
dedup queries still match their DuckDB twins value-by-value.

Alphabet note: tokenization regexes are deliberately dialect-portable
(`text.py` TOKEN_SPLIT/WORDY), but Java and DuckDB regex engines can
legitimately disagree on exotic unicode whitespace classes; the
alphabet here includes the unicode the corpus contract allows
(letters, CJK, emoji, ASCII space/punct) — a failure is a REAL
portability bug in an oracle pair, not noise.
"""

from __future__ import annotations

import os
import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lakeflow import registry
from tests.oracle_harness import compare, duck_connection

# Two profiles. The full one (``LAKEFLOW_SLOW=1``, ~17 minutes) draws
# dozens of random corpora per family, each a Spark <-> DuckDB round
# trip:
#
#     LAKEFLOW_SLOW=1 python -m pytest tests/test_oracle_fuzz.py -q
#
# Run it before shipping changes to the text/dedup/event/quantization/
# curation operator families it attacks. The default battery runs a
# smoke profile instead: a fixed seed and SMOKE_EXAMPLES corpora per
# family (Hypothesis tries the simplest corpus first, then random
# ones), so every Tier-1 pass fuzzes some data shapes in a few minutes.
SLOW = os.environ.get("LAKEFLOW_SLOW") == "1"
SMOKE_EXAMPLES = 2


def _profile(full_examples: int) -> settings:
    """``full_examples`` random corpora under LAKEFLOW_SLOW=1, else the
    derandomized smoke profile."""
    if SLOW:
        examples = {"max_examples": full_examples}
    else:
        examples = {"max_examples": SMOKE_EXAMPLES, "derandomize": True, "database": None}
    return settings(
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
        **examples,
    )


# letters + digits + punctuation + accents + CJK + emoji + whitespace
ALPHABET = (
    "abcdefghij XYZ 0123456789 .,;:!?'\"()-_/"
    "áéíóúñç ÄÖÜß 中文字 日本語 😀🚀 the la der und of"
)

_text = st.text(alphabet=ALPHABET, min_size=0, max_size=120)

_row = st.tuples(
    st.one_of(st.none(), _text),                                  # text
    st.sampled_from(["en", "es", "de", "pt", "und", None]),       # lang
    st.sampled_from(["web", "books", "code", None]),              # source
)

# queries whose only input is the documents table and whose oracles
# are certified at the fixed SFs — the fuzz target surface
FUZZ_QUERIES = (
    "q_token_counts",
    "q_text_stats",
    "q_lang_id",
    "q_dedup_exact",
    "q_doc_quality",
    "q_doc_fingerprint",
    "q_pii_redact",
    "q_repetition",
    "q_contamination",
    "q_token_entropy",
    # incremental batch-vs-corpus dedup (r6): random corpora exercise
    # the batch/history split + best-match tie-breaking on planted dups
    "q_dedup_incremental",
    # Gopher rule cascade (r6): null text, whitespace-only, unicode
    # punctuation, and single-token docs all hit the NULL-gated ratio
    # rules — the class of defect the r5 fuzz pass kept finding
    "q_gopher_rules",
    # exact-substring span dedup (r6): short docs (< 8 words → zero
    # spans, NULL dup_frac), planted duplicate texts, unicode tokens
    "q_span_dedup",
    # Bloom decontamination (r6): tiny corpora make the eval slice
    # (doc_id % 20) empty on most draws — the empty-bitset path must
    # yield zero hits in BOTH engines; planted dup texts create real
    # cross-slice exact hits
    "q_bloom_decontam",
    # hashed linear classifier (r6): empty/whitespace/null text → zero
    # features → NULL score, keep=false; single-token docs have no
    # bigrams
    "q_quality_classifier",
    # temperature mixing (r6): NULL sources group, NULL-text token
    # counts, single-source corpora (share = 1.0 exactly)
    "q_mix_temperature",
    # count-min sketch (r6): random vocabularies change which tokens
    # collide — the overcount column must replay exactly anyway
    "q_cm_sketch",
    # per-source KL (r7): single-source corpora (KL must be exactly 0),
    # NULL sources, shared-vocab degenerate draws — the ln-term
    # micro-unit quantization must replay across all of them
    "q_source_kl",
    # cross-source duplication-flow matrix (r8): NULL sources must
    # coalesce identically on both sides of least/greatest, planted dup
    # texts create real cross-source pairs, and the micro-unit
    # avg_jaccard must replay on every draw
    "q_dup_matrix",
    # ensemble quality blend (r8): tiny corpora are ALL ties (every
    # percent_rank 0), single-doc corpora hit the n-1=0 guard, and
    # NULL-score/NULL-ratio docs must drop identically before ranking;
    # the histogram-derived rank must equal the window-derived oracle
    # rank on every draw
    "q_quality_blend",
    # compaction bin packing (r8): NULL source/n_chars coalesce, zero-
    # byte inventories hit the greatest(1, target) guard, and the
    # size-desc/fid tie-break plus cumulative cut must replay exactly
    "q_compaction_plan",
    # n-gram novelty (r8): NULL/empty/whitespace texts collapse to the
    # '' shingle (first-seen only once corpus-wide), single-doc corpora
    # are fully novel, planted dup texts zero out the later copy
    "q_ngram_novelty",
    # LSH occupancy (r8): random corpora reshuffle which buckets
    # collide; the size-class cut and the occ-choose-2 pricing must
    # replay on every draw, incl. all-singleton and planted-dup buckets
    "q_lsh_occupancy",
    # length buckets (r8): the CASE ladder boundary (tokens == cap)
    # and the ''-token count for empty/whitespace docs must agree
    "q_length_buckets",
    # PMI collocations (r8): tiny corpora mostly return EMPTY (nothing
    # reaches the min-count floor) — the empty path must agree; planted
    # dup texts push exact bigrams over the floor on some draws
    "q_pmi_bigrams",
    # tokenizer coverage (r8): tiny corpora put EVERY step past
    # n_types (the v_eff cap path, coverage exactly 1.0); all-empty
    # corpora must yield zero rows in both engines
    "q_tokenizer_coverage",
    # epoch shuffle (r8): the md5 priority string ordering and the
    # within-shard row numbering must replay byte-for-byte on every
    # random doc_id population, including shards of size 1
    "q_epoch_shuffle",
    # perceptual image dedup (r9): the gradient corpus derives from
    # doc_id alone (text only gates membership), so random draws
    # exercise null-text exclusion, singleton corpora (zero pairs in
    # both engines), and family fragments whose brightness-shifted
    # sibling is missing; the pixel-replay oracle must match the real
    # encode->decode->dHash->banding pipeline on every draw
    "q_image_dedup",
    # r10 deployment twin: the fuzz draws must also agree on the
    # exact-hash collapse (group-wise hamming-0 pair counts + banded
    # cross edges with multiplicities) replayed in the oracle
    "q_image_dedup_collapsed",
)


@_profile(12)
@given(rows=st.lists(_row, min_size=1, max_size=25))
def test_text_queries_match_duckdb_on_random_corpora(spark, tmp_path_factory, rows):
    sf_dir = str(tmp_path_factory.mktemp("fuzz") / uuid.uuid4().hex[:8])
    os.makedirs(sf_dir, exist_ok=True)
    df = spark.createDataFrame(
        [
            (i, text, lang, source, len(text) if text is not None else None)
            for i, (text, lang, source) in enumerate(rows)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    con = None
    try:
        con = duck_connection_docs_only(sf_dir)
        for name in FUZZ_QUERIES:
            fn, sql = registry.ALL_QUERIES[name]
            compare(fn(spark, sf_dir), con, sql, f"fuzz:{name}")
    finally:
        if con is not None:
            con.close()


def duck_connection_docs_only(sf_dir: str):
    """duck_connection registers all ten views; the fuzz dir only has
    documents — register just that one."""
    import duckdb

    con = duckdb.connect()
    path = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(path):  # Spark writes a directory of part files
        path = os.path.join(path, "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    return con


# --------------------------------------------------------------------------
# Events-table fuzz: timestamps, float math, JSON props
# --------------------------------------------------------------------------

import datetime as _dt
import json as _json

_ts = st.datetimes(
    min_value=_dt.datetime(2026, 1, 1),
    max_value=_dt.datetime(2026, 1, 4),
)
_props = st.one_of(
    st.none(),
    st.builds(lambda n: _json.dumps({"k": n}), st.integers(-1000, 1000)),
    st.builds(lambda s: _json.dumps({"k": s}), st.text("ab", max_size=3)),
    st.just("{}"),
    st.just('{"other": 1}'),
    st.builds(lambda n: _json.dumps({"k": {"nested": n}}), st.integers(0, 9)),
)
_event_row = st.tuples(
    _ts,
    st.integers(0, 5),                                            # user_id
    st.sampled_from(["view", "click", "purchase", "other", None]),  # type
    st.decimals(                                                  # value: ≤6dp contract
        min_value=-1000, max_value=1000, places=6, allow_nan=False, allow_infinity=False
    ).map(float),
    _props,
)

EVENT_FUZZ_QUERIES = (
    "q_events_tumbling",
    "q_events_props",
    "q_sessionize",
    "q_funnel",
    "q_anomaly_zscore",
    "q_rollup_daily",
    "q_retention",
    "q_attribution",
    "q_scd2_history",
    "q_gap_fill",
    # r10: MAD's interpolated medians and the z-score micro-quantization
    # are exactly the derived-float classes the fuzzer exists to police
    "q_mad",
    # r10 batch twin: the fold-EWMA must stay bit-equal across engines
    # on arbitrary value sequences, ts ties, and null users
    "q_user_stats_batch",
)


@_profile(12)
@given(rows=st.lists(_event_row, min_size=1, max_size=30))
def test_event_queries_match_duckdb_on_random_corpora(spark, tmp_path_factory, rows):
    sf_dir = str(tmp_path_factory.mktemp("efuzz") / uuid.uuid4().hex[:8])
    os.makedirs(sf_dir, exist_ok=True)
    df = spark.createDataFrame(
        [
            (i, ts, user_id, etype, value, props)
            for i, (ts, user_id, etype, value, props) in enumerate(rows)
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    con = None
    try:
        con = _duck_events_only(sf_dir)
        for name in EVENT_FUZZ_QUERIES:
            fn, sql = registry.ALL_QUERIES[name]
            compare(fn(spark, sf_dir), con, sql, f"fuzz:{name}")
    finally:
        if con is not None:
            con.close()


def _duck_events_only(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    return con


# --------------------------------------------------------------------------
# Embeddings-table fuzz: zero vectors, degenerate corpora, float math
# --------------------------------------------------------------------------

# values on a 1/64 grid: exactly representable in float32 so the
# float->double cast is identical in both engines; includes the
# all-zero vector (zero norm -> cosine division hazard: Spark ANSI
# aborts double x/0 while DuckDB yields NULL)
_coord = st.integers(-128, 128).map(lambda k: k / 64.0)
_vec = st.lists(_coord, min_size=4, max_size=4)
_emb_row = st.tuples(_vec, st.sampled_from([0, 1, 2, None]))

EMB_FUZZ_QUERIES = (
    "q_embed_norms",
    "q_knn_bruteforce",
    "q_dedup_embedding_exact",
    "q_label_centroids",
    # cluster family (r6, VERDICT r5 #5): random corpora with planted
    # near-dup chains exercise the LSH-replay closure oracle — the
    # recall-dependence class the fixed-SF gates missed. The registered
    # entries pin (bits=5, bands=38), so the replay is deterministic on
    # any corpus this generator emits.
    "q_dedup_clusters",
    "q_cluster_split",
    # PageRank (r7): random corpora exercise empty edge sets (empty
    # result in BOTH engines), single-edge graphs (rank mass swapping
    # between two nodes), and planted hubs — the nano-unit loop must
    # replay on all of them
    "q_pagerank",
    # capped deployment twins (r9): the cap is vacuous at fuzz corpus
    # sizes (<= 15 vectors << 128), but the QUALIFY occupancy replay
    # inside the oracle's banding CTE must still agree with the Spark
    # occupancy filter on every draw — the adaptive tuning resolves to
    # the same pin at these sizes by the n-floor
    "q_pagerank_capped",
    "q_kcore_capped",
    # SemDeDup (r6): tiny corpora mean fewer vectors than n_lists and
    # zero-norm twins — seeds, Lloyd rounds, and the NULL-cosine guard
    # must all replay
    "q_semdedup",
    # int8 scalar quantization (r6): the 1/64-grid coords exercise
    # exact scale/code replay; the all-zero vector hits the s=0 →
    # code-0 → NULL-quantized-cosine path
    "q_knn_sq8",
    # PCA power iteration (r6): 4-dim corpora, constant clouds
    # (zero covariance → NULL-normalized iterates must propagate
    # identically), single-vector corpora
    "q_embed_pca",
    # all-but-the-top (r6): inherits PCA's degenerate paths plus the
    # vector-along-pc1 cancellation (norm_after clamped at 0)
    "q_embed_abtt",
    # sparse random projection (r7): len(v) < 64 exercises the partial
    # sign-matrix join; all-zero vectors project to exact zeros
    "q_embed_rp",
)


@_profile(10)
@given(rows=st.lists(_emb_row, min_size=1, max_size=15))
def test_embedding_queries_match_duckdb_on_random_corpora(
    spark, tmp_path_factory, rows
):
    sf_dir = str(tmp_path_factory.mktemp("vfuzz") / uuid.uuid4().hex[:8])
    os.makedirs(sf_dir, exist_ok=True)
    df = spark.createDataFrame(
        [(i, vec, label) for i, (vec, label) in enumerate(rows)],
        "vec_id long, embedding array<float>, label int",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    con = None
    try:
        con = _duck_embeddings_only(sf_dir)
        for name in EMB_FUZZ_QUERIES:
            fn, sql = registry.ALL_QUERIES[name]
            compare(fn(spark, sf_dir), con, sql, f"fuzz:{name}")
    finally:
        if con is not None:
            con.close()


def _duck_embeddings_only(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    path = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    return con


# --------------------------------------------------------------------------
# 64-dim embeddings fuzz: the PQ/IVF-PQ subspace geometry (VERDICT r6 #7)
# --------------------------------------------------------------------------

# The 4-dim corpus above cannot exercise PQ's 8×8-dim subspace slicing,
# the per-subspace codebook seeds, or the d=64 covariance — this draw
# runs the quantization family on its real geometry. Same 1/64 grid
# (exact float32) including all-zero vectors; corpora smaller than the
# ks=8 codebook / n_lists=8 coarse seeds exercise the short-seed paths.
_vec64 = st.lists(_coord, min_size=64, max_size=64)
_emb64_row = st.tuples(_vec64, st.sampled_from([0, 1, None]))

EMB64_FUZZ_QUERIES = (
    "q_knn_sq8",
    "q_knn_pq",
    "q_knn_ivfpq",
    # deployment-resolution twin (r7): corpora smaller than the ks=64
    # codebook exercise the short-seed path at 8× the pinned width
    "q_knn_ivfpq_hi",
    "q_embed_pca",
    "q_embed_abtt",
    "q_embed_rp",
)


@_profile(5)
@given(rows=st.lists(_emb64_row, min_size=1, max_size=12))
def test_quantization_family_matches_duckdb_on_random_64dim_corpora(
    spark, tmp_path_factory, rows
):
    sf_dir = str(tmp_path_factory.mktemp("vfuzz64") / uuid.uuid4().hex[:8])
    os.makedirs(sf_dir, exist_ok=True)
    df = spark.createDataFrame(
        [(i, vec, label) for i, (vec, label) in enumerate(rows)],
        "vec_id long, embedding array<float>, label int",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    con = None
    try:
        con = _duck_embeddings_only(sf_dir)
        for name in EMB64_FUZZ_QUERIES:
            fn, sql = registry.ALL_QUERIES[name]
            compare(fn(spark, sf_dir), con, sql, f"fuzz64:{name}")
    finally:
        if con is not None:
            con.close()


# --------------------------------------------------------------------------
# Relational (orders/lineitem) fuzz: profiling + scan-agg families
# --------------------------------------------------------------------------
# Data stays inside the TPC-H-ish contract (quantity >= 1, prices >= 0,
# valid dates) — the relational battery's semantics assume it — while
# pushing the degenerate SHAPES the profiler must survive: single-row
# tables, constant price columns, one-group corpora, tie-heavy values.

_price = st.one_of(
    st.just(100.0),                       # constant-heavy (ties, zero variance)
    st.decimals(min_value=0, max_value=99999, places=2,
                allow_nan=False, allow_infinity=False).map(float),
)
_order_row = st.tuples(
    st.sampled_from(["O", "F", "P"]),                             # status
    _price,
    st.datetimes(min_value=_dt.datetime(2026, 1, 1),
                 max_value=_dt.datetime(2026, 3, 1)),             # orderdate
    st.sampled_from(["1-URGENT", "2-HIGH", "3-MEDIUM"]),          # priority
)
_line_row = st.tuples(
    st.integers(1, 6),                                            # orderkey ref
    st.integers(1, 50).map(float),                                # quantity
    _price,                                                       # extendedprice
    st.sampled_from([0.0, 0.05, 0.1]),                            # discount
    st.sampled_from([0.0, 0.04, 0.08]),                           # tax
    st.sampled_from(["A", "N", "R"]),                             # returnflag
    st.sampled_from(["O", "F"]),                                  # linestatus
    st.datetimes(min_value=_dt.datetime(2026, 1, 1),
                 max_value=_dt.datetime(2026, 3, 1)),             # shipdate
)

REL_FUZZ_QUERIES = (
    "q_histogram",
    "q_ntile_binning",
    "q_corr",
    "q_column_profile",
    "q_heavy_hitters",
    "q_winsorize",
    "q_tpch_q1",
    "q_tpch_q6",
    # portable HLL (r6): tiny corpora (≤5 distinct keys) force the
    # small-range linear-counting branch — both the correction and the
    # raw path must replay
    "q_hll_sketch",
    # fixed-grid quantile sketch (r7): constant-price corpora force the
    # degenerate mx == mn branch (bin 0 everywhere), single-row tables
    # force 1-bin cumulative ranks — both grid edges must replay
    "q_quantile_hist",
)


@_profile(10)
@given(
    orders=st.lists(_order_row, min_size=1, max_size=12),
    lines=st.lists(_line_row, min_size=1, max_size=25),
)
def test_relational_queries_match_duckdb_on_random_corpora(
    spark, tmp_path_factory, orders, lines
):
    sf_dir = str(tmp_path_factory.mktemp("rfuzz") / uuid.uuid4().hex[:8])
    os.makedirs(sf_dir, exist_ok=True)
    odf = spark.createDataFrame(
        [
            (i + 1, (i % 3) + 1, status, price, od, prio)
            for i, (status, price, od, prio) in enumerate(orders)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    )
    ldf = spark.createDataFrame(
        [
            (okey, 1 + i % 5, 1 + i % 3, i + 1, qty, price, disc, tax, rf, ls, sd)
            for i, (okey, qty, price, disc, tax, rf, ls, sd) in enumerate(lines)
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp_ntz",
    )
    odf.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "orders.parquet")
    )
    ldf.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "lineitem.parquet")
    )
    con = None
    try:
        con = _duck_rel_only(sf_dir)
        for name in REL_FUZZ_QUERIES:
            fn, sql = registry.ALL_QUERIES[name]
            compare(fn(spark, sf_dir), con, sql, f"fuzz:{name}")
    finally:
        if con is not None:
            con.close()


def _duck_rel_only(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


# --------------------------------------------------------------------------
# Composed-pipeline fuzz: the end-to-end curation audit on random corpora
# --------------------------------------------------------------------------
# The capstone q_curation_audit composes eight certified stages plus a
# coalesce lattice whose FALLBACK arms the fixed corpora never reach:
# the driver SFs ship |documents| == |embeddings| with aligned ids, so
# keep_canonical/split fallbacks for UN-embedded docs (and clusters
# over ids with no document) only fire here. Docs and embeddings are
# drawn with INDEPENDENT sizes to force both mismatch directions.


@_profile(6)
@given(
    doc_rows=st.lists(_row, min_size=1, max_size=15),
    emb_rows=st.lists(_emb_row, min_size=1, max_size=10),
)
def test_curation_audit_matches_duckdb_on_random_corpora(
    spark, tmp_path_factory, doc_rows, emb_rows
):
    sf_dir = str(tmp_path_factory.mktemp("cfuzz") / uuid.uuid4().hex[:8])
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(
        [
            (i, text, lang, source, len(text) if text is not None else None)
            for i, (text, lang, source) in enumerate(doc_rows)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    spark.createDataFrame(
        [(i, vec, label) for i, (vec, label) in enumerate(emb_rows)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    con = None
    try:
        import duckdb

        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, t + '.parquet', '*.parquet')}')"
            )
        fn, sql = registry.ALL_QUERIES["q_curation_audit"]
        compare(fn(spark, sf_dir), con, sql, "fuzz:q_curation_audit")
        # the capped deployment twin on the same corpus — and a cap of 2,
        # low enough that the occupancy filter ENGAGES even on these tiny
        # corpora (the registered cap=128 is a no-op under 128 vectors,
        # so without this arm the fuzz would never exercise the replayed
        # QUALIFY filter against Spark's occupancy aggregate)
        fn_c, sql_c = registry.ALL_QUERIES["q_curation_audit_capped"]
        compare(fn_c(spark, sf_dir), con, sql_c, "fuzz:q_curation_audit_capped")
        from lakeflow.ext import curation

        compare(
            curation.curated_docs(spark, sf_dir, cluster_bucket_cap=2),
            con,
            curation.curation_audit_sql(cluster_bucket_cap=2),
            "fuzz:q_curation_audit_cap2",
        )
    finally:
        if con is not None:
            con.close()

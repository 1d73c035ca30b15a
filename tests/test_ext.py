"""Behavioral tests for the extension operators (dedup / similarity /
multimodal) beyond the oracle-parity sweep."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakeflow.ext import dedup, multimodal, similarity


def test_exact_dedup_collapses_normalized_duplicates(spark, tmp_path):
    # build a tiny documents table with normalization-equal texts
    df = spark.createDataFrame(
        [
            (1, "Hello, World!", "en", "s", 13),
            (2, "hello   world", "en", "s", 13),
            (3, "different text", "en", "s", 14),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = tmp_path / "documents.parquet"
    df.coalesce(1).write.mode("overwrite").parquet(str(out))
    res = dedup.exact_dedup(spark, str(tmp_path)).collect()
    by_keep = {r["keep_doc_id"]: r["copies"] for r in res}
    assert by_keep == {1: 2, 3: 1}


def _write_docs_table(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


def test_minhash_near_dup_finds_similar_pairs(spark, tmp_path):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated content about spark query optimization at scale"
    _write_docs_table(
        spark,
        tmp_path,
        [(1, base, "en", "s", len(base)), (2, near, "en", "s", len(near)),
         (3, far, "en", "s", len(far))],
    )
    pairs = dedup.near_dup_pairs(spark, str(tmp_path), threshold=0.4).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.4


def test_simhash_similar_docs_have_close_hashes(spark, tmp_path):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " extra"
    far = "one two three four five six seven eight nine ten"
    _write_docs_table(
        spark,
        tmp_path,
        [(1, base, "en", "s", 1), (2, near, "en", "s", 1), (3, far, "en", "s", 1)],
    )
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(spark, str(tmp_path)).collect()}

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & 0xFFFFFFFF).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])


def test_knn_lsh_recall_vs_bruteforce(spark, sf_dir):
    exact = {
        (r["q_id"], r["vec_id"])
        for r in similarity.knn_bruteforce(spark, sf_dir, k=5).collect()
    }
    approx = {
        (r["q_id"], r["vec_id"])
        for r in similarity.knn_lsh(spark, sf_dir, k=5, bits=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH recall suspiciously low: {recall}"


def test_png_bmp_codec_roundtrip():
    """Byte-exact round trips through the real stdlib codecs: every PNG
    scanline filter (0-4), RGBA, and BMP row padding."""
    import random

    rng = random.Random(42)
    w, h = 7, 5
    rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
    for f in range(5):
        dw, dh, ch, px = multimodal.decode_png(
            multimodal.encode_png(w, h, rgb, filter_type=f)
        )
        assert (dw, dh, ch) == (w, h, 3)
        assert px == rgb, f"filter {f}"
    rgba = bytes(rng.randrange(256) for _ in range(w * h * 4))
    dw, dh, ch, px = multimodal.decode_png(
        multimodal.encode_png(w, h, rgba, filter_type=4, channels=4)
    )
    assert (ch, px) == (4, rgba)
    dw, dh, ch, px = multimodal.decode_bmp(multimodal.encode_bmp(w, h, rgb))
    assert (dw, dh, ch) == (w, h, 3) and px == rgb


def test_frame_sample_fanout(spark, sf_dir):
    """Every video fans out to duration//1000 + 1 frame rows with
    monotone frame timestamps and distinct per-frame payloads."""
    vids = multimodal.synthesize_videos(spark, sf_dir)
    frames = multimodal.sample_frames(vids, every_ms=1_000)
    one = frames.filter(F.col("doc_id") == 1).orderBy("frame_idx").collect()
    dur = vids.filter(F.col("doc_id") == 1).first().duration_ms
    assert len(one) == dur // 1_000 + 1
    assert [r.frame_ts_ms for r in one] == [i * 1_000 for i in range(len(one))]
    assert len({bytes(r.frame_bytes) for r in one}) == len(one)
    n_vids = vids.count()
    stats = multimodal.frame_sample_stats(spark, sf_dir)
    assert stats.count() == n_vids


def test_decoders_reject_unknown_mime():
    import pytest

    assert "video/mp4" not in multimodal.DECODERS
    assert set(multimodal.DECODERS.values()) == {multimodal.decode_image}
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"xx", "video/mp4")


def test_approx_distinct_error_bound(spark, sf_dir):
    """HLL++ estimate within 5% of the exact distinct count."""
    from lakeflow import relational

    row = relational.approx_distinct(spark, sf_dir).collect()[0]
    assert abs(row.approx_custkeys - row.exact_custkeys) <= 0.05 * row.exact_custkeys


def test_knn_pandas_agrees_with_jvm(spark, sf_dir):
    """Arrow/numpy cosine path returns the same neighbor sets as the
    JVM higher-order-function path (cosines may differ in the last
    ulp before rounding — compare ids per query, not float equality)."""
    from lakeflow.ext import similarity

    jvm = similarity.knn_bruteforce(spark, sf_dir)
    arrow = similarity.knn_bruteforce_pandas(spark, sf_dir)
    j = {(r.q_id, r.vec_id) for r in jvm.collect()}
    a = {(r.q_id, r.vec_id) for r in arrow.collect()}
    # identical up to rounding-tie swaps at the k-th place
    assert len(j ^ a) <= max(2, len(j) // 20)


def test_approx_percentile_error_bound(spark, sf_dir):
    from lakeflow import relational

    for r in relational.approx_percentiles(spark, sf_dir).collect():
        assert abs(r.approx_median - r.exact_median) <= 0.02 * r.exact_median


def test_knn_ivf_recall_floor(spark, sf_dir):
    """IVF probing nprobe/n_lists of the corpus must beat a recall
    floor vs brute force (embeddings are near-uniform, so expected
    recall ≈ nprobe/n_lists = 0.5; assert a safe 0.25)."""
    from lakeflow.ext import similarity

    exact = similarity.knn_bruteforce(spark, sf_dir)
    ivf = similarity.knn_ivf(spark, sf_dir, n_lists=8, nprobe=4)
    e = {(r.q_id, r.vec_id) for r in exact.collect()}
    a = {(r.q_id, r.vec_id) for r in ivf.collect()}
    assert a  # every query produced candidates
    recall = len(e & a) / len(e)
    assert recall >= 0.25, f"recall {recall:.2f}"


def test_winnowing_containment_property(spark, tmp_path):
    """Winnowing guarantee: an exact duplicate shares ALL fingerprints;
    a doc sharing a long substring shares at least one; an unrelated
    doc shares none of the common run's prints; a doc shorter than one
    window yields none."""
    from lakeflow.ext import text as t

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    shared = " common shared passage of considerable length here "
    rows = [
        (1, base),
        (2, base),                                   # exact duplicate
        (3, "completely different words" + shared),  # shares a passage
        (4, "unrelated content about spark catalyst optimizer internals"),
        (5, "x" * 10),                               # shorter than k+window-1
        (6, base + shared),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    fp: dict[int, set[int]] = {}
    for r in t.winnow_fingerprints_portable(spark, str(tmp_path)).collect():
        fp.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert set(fp) == {1, 2, 3, 4, 6}             # every long-enough doc
    assert fp[1] == fp[2]                       # identical text, identical prints
    assert not (fp[1] & fp[4])                  # disjoint content, disjoint prints
    assert fp[6] & fp[3]                        # long shared substring -> shared print


def test_hash_sample_is_repartition_invariant(spark, sf_dir):
    """Content-hash sampling must select the same rows regardless of
    physical layout — the reproducibility contract seed-based sampling
    cannot give."""
    from lakeflow.ext import sampling

    a = {r.doc_id for r in sampling.sample_documents(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(13)
    b = {r.doc_id for r in sampling.hash_sample(docs, "doc_id").select("doc_id").collect()}
    assert a == b
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert 0.1 * n < len(a) < 0.3 * n  # ~51/256 ≈ 20%


def test_train_test_split_partitions_everything_once(spark, sf_dir):
    from lakeflow.ext import sampling

    out = sampling.train_test_split(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.docs for r in out) == n
    splits = {r.split for r in out}
    assert splits == {"train", "val", "test"}


def test_stratified_sample_proportions(spark, sf_dir):
    from lakeflow.ext import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = {r.lang: r.cnt for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    samp = sampling.stratified_sample(spark, sf_dir)
    got = {r.lang: r.cnt for r in samp.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    import math

    for lang, n in base.items():
        # binomial(n, 0.2): mean 0.2n, sd sqrt(n*0.2*0.8); allow 4 sigma
        tol = 4 * math.sqrt(n * 0.2 * 0.8)
        assert abs(got.get(lang, 0) - 0.2 * n) <= max(tol, 3), (lang, n, got.get(lang))


def test_funnel_ordering_semantics(spark, tmp_path):
    """Steps count only in strict order: a click BEFORE the first view
    doesn't advance the funnel; a user with no view contributes to no
    stage; equal timestamps don't satisfy the strict 'after'."""
    import pandas as pd

    from lakeflow.ext import events as ev_mod

    rows = [
        # u1 full ordered funnel
        (1, "2026-01-01 10:00", 1, "view", 1.0),
        (2, "2026-01-01 10:05", 1, "click", 1.0),
        (3, "2026-01-01 10:10", 1, "purchase", 1.0),
        # u2 clicks before viewing; the click after the view counts
        (4, "2026-01-01 09:00", 2, "click", 1.0),
        (5, "2026-01-01 10:00", 2, "view", 1.0),
        (6, "2026-01-01 11:00", 2, "click", 1.0),
        # u3 purchase first, never views in order
        (7, "2026-01-01 08:00", 3, "purchase", 1.0),
        (8, "2026-01-01 09:00", 3, "view", 1.0),
        # u4 click at the SAME instant as view — strict > excludes it
        (9, "2026-01-01 10:00", 4, "view", 1.0),
        (10, "2026-01-01 10:00", 4, "click", 1.0),
        # u5 no view at all
        (11, "2026-01-01 10:00", 5, "click", 1.0),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = ev_mod.funnel(spark, str(tmp_path)).collect()[0]
    # views: u1,u2,u3,u4 → 4; ordered clicks: u1,u2 → 2; purchases: u1 → 1
    assert (out.reached_view, out.reached_click, out.reached_purchase) == (4, 2, 1)
    assert out.conv_click == 0.5 and out.conv_purchase == 0.25


@pytest.mark.parametrize("edge_source", ["exact", "lsh"])
def test_dedup_clusters_consistent_with_pairs(spark, sf_dir, edge_source):
    """Every near-dup pair lands in one cluster; cluster_id is the min
    member; non-paired vectors are singletons of themselves.

    Pairs come from the SAME edge generator the clustering used (r6):
    the old version checked LSH-default clusters against the exhaustive
    pair list, which silently asserts banding recall = 1.0 — exactly
    the scale-dependent claim VERDICT r5 #1 retired (one borderline
    pair slips the bands at sf0.01). Recall itself is measured by the
    dedicated floor tests; THIS test pins the clustering invariants."""
    if edge_source == "lsh":
        cl_df = dedup.dedup_clusters(spark, sf_dir, bits=5, bands=38)
        pair_df = dedup.embedding_near_dups_lsh(
            spark, sf_dir, threshold=0.4, bits=5, bands=38
        )
    else:
        cl_df = dedup.dedup_clusters(spark, sf_dir, edge_source="exact")
        pair_df = dedup.embedding_near_dups(spark, sf_dir, threshold=0.4)
    clusters = {
        r.vec_id: (r.cluster_id, r.cluster_size) for r in cl_df.collect()
    }
    pairs = [(r.vec_a, r.vec_b) for r in pair_df.collect()]
    paired = {v for p in pairs for v in p}
    for a, b in pairs:
        assert clusters[a][0] == clusters[b][0]
    for vec_id, (cid, size) in clusters.items():
        members = [v for v, (c, _) in clusters.items() if c == cid]
        assert cid == min(members)
        assert size == len(members)
        if vec_id not in paired:
            assert cid == vec_id and size == 1


def test_connected_components_chain_and_blobs(spark):
    """Adversarial shapes for the CC primitive: a 64-node chain (max
    diameter — exercises pointer jumping over many rounds), two blobs,
    and an isolated pair."""
    chain = [(i, i + 1) for i in range(63)]
    blob_a = [(100 + i, 100 + j) for i in range(4) for j in range(i + 1, 4)]
    pair = [(200, 201)]
    all_edges = chain + blob_a + pair
    edges = spark.createDataFrame(
        [(a, b) for a, b in all_edges] + [(b, a) for a, b in all_edges],
        "src long, dst long",
    )
    # both execution paths: driver union-find (default guard) and the
    # distributed loop (guard forced off)
    for guard in (2_000_000, 0):
        got = {
            r.id: r.comp
            for r in dedup.connected_components(
                edges, driver_finish_max_edges=guard
            ).collect()
        }
        assert all(got[i] == 0 for i in range(64))
        assert all(got[100 + i] == 100 for i in range(4))
        assert got[200] == 200 and got[201] == 200
        assert len(got) == 64 + 4 + 2


def test_connected_components_random_graphs(spark):
    """CC against a pure-python union-find reference on seeded random
    graphs (structure Spark-independent → any disagreement is a bug in
    the distributed loop, not the generator)."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 60
        undirected = {
            (a, b)
            for _ in range(45)
            for a, b in [sorted(rng.sample(range(n), 2))]
        }
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in undirected:
            parent[find(a)] = find(b)
        want = {}
        touched = {v for e in undirected for v in e}
        for v in touched:
            root = find(v)
            want[v] = min(u for u in touched if find(u) == root)

        edges = spark.createDataFrame(
            [(a, b) for a, b in undirected] + [(b, a) for a, b in undirected],
            "src long, dst long",
        )
        for guard in (2_000_000, 0):
            got = {
                r.id: r.comp
                for r in dedup.connected_components(
                    edges, driver_finish_max_edges=guard
                ).collect()
            }
            assert got == want, f"seed {seed} guard {guard}"


def test_fuzzy_join_blocked_levenshtein(spark):
    from lakeflow import relational

    left = spark.createDataFrame(
        [(1, "Acme Corp"), (2, "Globex"), (3, "Initech")], "id long, name string"
    )
    right = spark.createDataFrame(
        [(10, "acme corp."), (11, "globexx"), (12, "umbrella"), (13, "xinitech")],
        "rid long, rname string",
    )
    got = {
        (r.id, r.rid, r.edit_dist)
        for r in relational.fuzzy_join(left, right, "name", "rname").collect()
    }
    # "xinitech" blocks under "xi" != "in" → missed by design (recall
    # trade-off documented); the two in-block typo matches are found
    assert got == {(1, 10, 1), (2, 11, 1)}
    p = relational.fuzzy_join(left, right, "name", "rname")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p


def test_embedding_lsh_recall_vs_exact(spark, sf_dir):
    """Banded sign-LSH block-then-verify must recover >=0.95 of the
    exact all-pairs near-dup edges (tuned for 0.98 at the threshold;
    pairs above it survive with higher probability). False positives
    are impossible — the verify stage applies the exact cosine."""
    exact = set(
        map(tuple, dedup.embedding_near_dups(spark, sf_dir, 0.4).select("vec_a", "vec_b").collect())
    )
    approx = set(
        map(tuple, dedup.embedding_near_dups_lsh(spark, sf_dir, 0.4).select("vec_a", "vec_b").collect())
    )
    assert not approx - exact  # verify stage forbids false positives
    if exact:
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.95, f"LSH recall {recall:.3f} below floor"


def test_embedding_lsh_bucket_cap_semantics(spark, sf_dir):
    """bucket_cap (r5, the sf10 giant-cluster candidate-explosion
    remedy) must only ever REMOVE pairs — never invent them — and a
    cap above the largest bucket must be a byte-identical no-op."""
    base = set(
        map(
            tuple,
            dedup.embedding_near_dups_lsh(spark, sf_dir, 0.4)
            .select("vec_a", "vec_b")
            .collect(),
        )
    )
    nocap = set(
        map(
            tuple,
            dedup.embedding_near_dups_lsh(spark, sf_dir, 0.4, bucket_cap=10**9)
            .select("vec_a", "vec_b")
            .collect(),
        )
    )
    assert nocap == base  # cap past max occupancy engages nothing
    capped = set(
        map(
            tuple,
            dedup.embedding_near_dups_lsh(spark, sf_dir, 0.4, bucket_cap=8)
            .select("vec_a", "vec_b")
            .collect(),
        )
    )
    assert capped <= base  # dropping buckets can only lose candidates


def test_ngram_jaccard_band_blocking_matches_exact(spark, sf_dir):
    """The registered band-blocked path (MinHash-band candidates, exact
    bigram-Jaccard verify) must equal the exhaustive lang-blocked twin —
    this parity is what keeps the driver's DuckDB oracle (the exhaustive
    twin's SQL) green for the scale-safe registered plan. Deterministic:
    fixed hash seeds, so any divergence is a real recall regression."""
    band = [tuple(r) for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()]
    exact = [
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(spark, sf_dir, block_on="lang").collect()
    ]
    assert band == exact
    assert len(band) > 0  # fixture has near-dup docs; empty would mask a break


def test_graph_lsh_counts_within_tolerance_of_exact(spark, sf_dir):
    """The registered graph queries ride LSH edges (approximate counts,
    rows-only at the driver). Pin their drift against the exact edge
    source: missed edges only DROP triangles/degrees (verify-stage
    cosine forbids false edges), and the tuned recall bounds the drop."""
    from lakeflow.ext import graph

    tri_lsh = graph.triangle_count(spark, sf_dir).collect()[0]["triangles"]
    tri_exact = graph.triangle_count(spark, sf_dir, edge_source="exact").collect()[0][
        "triangles"
    ]
    assert tri_lsh <= tri_exact  # no false edges → never overcounts
    assert tri_lsh >= 0.75 * tri_exact, f"LSH triangles {tri_lsh} vs exact {tri_exact}"

    deg_lsh = {
        r["degree"]: r["nodes"] for r in graph.degree_distribution(spark, sf_dir).collect()
    }
    deg_exact = {
        r["degree"]: r["nodes"]
        for r in graph.degree_distribution(spark, sf_dir, edge_source="exact").collect()
    }
    n_lsh, n_exact = sum(deg_lsh.values()), sum(deg_exact.values())
    assert n_lsh <= n_exact
    assert n_lsh >= 0.9 * n_exact, f"LSH touched nodes {n_lsh} vs exact {n_exact}"


# ----------------------------------------------------------------- packing


def test_chunk_documents_reconstructs_and_overlaps(spark, tmp_path):
    from lakeflow.ext import packing

    words = [f"w{i}" for i in range(150)]
    _write_docs_table(
        spark, tmp_path, [(1, " ".join(words), "en", "s", 1), (2, "short text", "en", "s", 1)]
    )
    rows = packing.chunk_documents(spark, str(tmp_path), chunk_size=64, stride=48).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r
    # doc 1: 150 words -> starts 0,48,96,144 -> 4 chunks
    c1 = by_doc[1]
    assert sorted(c1) == [0, 1, 2, 3]
    assert c1[0].chunk_text.split() == words[0:64]
    assert c1[1].chunk_text.split() == words[48:112]  # 16-token overlap
    assert c1[3].chunk_text.split() == words[144:150] and c1[3].n_tokens == 6
    # short doc -> exactly one whole-doc chunk
    assert by_doc[2][0].chunk_text == "short text" and len(by_doc[2]) == 1


def test_pack_sequences_bins_respect_budget(spark, tmp_path):
    from lakeflow.ext import packing

    # 10-token docs, budget 32 -> bins of 4,4,2 docs per source ordering
    rows = [(i, " ".join(["tok"] * 10), "en", f"src{i % 2}", 1) for i in range(10)]
    _write_docs_table(spark, tmp_path, rows)
    out = packing.pack_sequences(spark, str(tmp_path), budget=32).collect()
    by_key = {(r.source, r.bin_id): r for r in out}
    for (src, b) in [("src0", 0), ("src1", 0)]:
        assert by_key[(src, b)].n_docs == 4 and by_key[(src, b)].bin_tokens == 40
    for (src, b) in [("src0", 1), ("src1", 1)]:
        assert by_key[(src, b)].n_docs == 1 and by_key[(src, b)].bin_tokens == 10
    # a bin never exceeds budget except via its final doc's overflow
    assert all(r.bin_tokens - 10 < 32 for r in out)


def test_mix_plan_targets_and_rates(spark, tmp_path):
    from lakeflow.ext import packing

    rows = [(i, " ".join(["t"] * 100), ("en" if i < 8 else "de"), "s", 1) for i in range(10)]
    _write_docs_table(spark, tmp_path, rows)
    out = {r.lang: r for r in packing.mix_plan(
        spark, str(tmp_path), budget=1000, weights={"en": 0.5, "de": 0.5}
    ).collect()}
    # en: 800 tokens vs target 500 -> downsample; de: 200 vs 500 -> 3 epochs
    assert out["en"].actual_tokens == 800 and out["en"].target_tokens == 500.0
    assert abs(out["en"].sample_rate - 0.625) < 1e-12 and out["en"].epochs_needed == 1
    assert out["de"].sample_rate == 1.0 and out["de"].epochs_needed == 3


def test_bands_for_threshold_recall_floor():
    """Auto-tuned banding must keep ≥95% hit probability at exactly the
    threshold, and must lengthen rows (fewer bands) as the threshold
    rises — that midpoint shift is what prunes candidates at scale."""
    from lakeflow.ext.dedup import _bands_for_threshold

    def recall(t, r, b):
        return 1 - (1 - t**r) ** b

    for t in (0.2, 0.3, 0.5, 0.8, 0.9):
        b = _bands_for_threshold(t, 64)
        assert recall(t, 64 // b, b) >= 0.95
    assert _bands_for_threshold(0.3, 64) == 32  # registered default: unchanged
    assert _bands_for_threshold(0.8, 64) < _bands_for_threshold(0.3, 64)


# ----------------------------------------------------------------- bpe


def test_bpe_merges_hand_checkable_corpus(spark, tmp_path):
    from lakeflow.ext import bpe

    # corpus: 'abab' x3, 'ab' x2 -> round 1 must merge ('a','b') with
    # freq 3*2 + 2*1 = 8; round 2 merges ('ab','ab') from the x3 word.
    _write_docs_table(
        spark,
        tmp_path,
        [(1, "abab abab abab ab ab", "en", "s", 20), (2, "xy", "en", "s", 2)],
    )
    rows = bpe.bpe_merges(spark, str(tmp_path), rounds=3).collect()
    got = [(r.round, r.left_sym, r.right_sym, r.merged, r.freq) for r in rows]
    assert got[0] == (1, "a", "b", "ab", 8)
    assert got[1] == (2, "ab", "ab", "abab", 3)
    # round 3: remaining pairs all freq 1 -> lexicographic tie-break
    assert got[2][0] == 3 and got[2][4] == 1 and got[2][1] <= got[2][2]


def test_bpe_merge_application_is_greedy_left_to_right(spark, tmp_path):
    from lakeflow.ext import bpe

    # 'aaa': round 1 pair ('a','a') freq 2; the replace scan merges the
    # FIRST two a's only -> round 2 sees ('aa','a').
    _write_docs_table(spark, tmp_path, [(1, "aaa", "en", "s", 3)])
    rows = bpe.bpe_merges(spark, str(tmp_path), rounds=2).collect()
    got = [(r.round, r.left_sym, r.right_sym, r.freq) for r in rows]
    assert got[0] == (1, "a", "a", 2)
    assert got[1] == (2, "aa", "a", 1)


def test_bpe_stops_when_corpus_exhausted(spark, tmp_path):
    from lakeflow.ext import bpe

    _write_docs_table(spark, tmp_path, [(1, "ab ab", "en", "s", 5)])
    rows = bpe.bpe_merges(spark, str(tmp_path), rounds=10).collect()
    # 'ab' -> one merge, then single-symbol words: loop must stop early
    assert [(r.round, r.merged) for r in rows] == [(1, "ab")]


# ----------------------------------------------------------------- winsorize


def test_winsorize_clamps_outlier_into_group_bounds(spark, sf_dir):
    from lakeflow.ext import profile

    rows = profile.winsorize(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.p_lo <= r.p_hi
        # winsorized mean lies within the clamp bounds; raw mean need not
        assert r.p_lo <= r.mean_wins <= r.p_hi


def _bpe_reference(word_freqs, rounds):
    """Pure-Python reference of the engine's BPE semantics: greedy
    left-to-right non-overlapping merge application, argmax pair by
    (freq desc, pair asc)."""
    from collections import Counter

    state = [([*w], f) for w, f in word_freqs]
    merges = []
    for rnd in range(1, rounds + 1):
        counts = Counter()
        for syms, f in state:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (l, r), f = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnd, l, r, l + r, f))
        nxt = []
        for syms, fr in state:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, fr))
        state = nxt
    return merges


def test_bpe_matches_pure_python_reference_on_random_corpora(spark, tmp_path):
    import random

    from lakeflow.ext import bpe

    rng = random.Random(123)
    for trial in range(3):
        words = [
            "".join(rng.choice("ab") for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(3, 12))
        ]
        corpus = " ".join(words)
        d = tmp_path / f"trial{trial}"
        d.mkdir()
        _write_docs_table(spark, d, [(1, corpus, "en", "s", len(corpus))])
        from collections import Counter

        expected = _bpe_reference(sorted(Counter(words).items()), rounds=5)
        got = [
            (r.round, r.left_sym, r.right_sym, r.merged, r.freq)
            for r in bpe.bpe_merges(spark, str(d), rounds=5).collect()
        ]
        assert got == expected, f"corpus={corpus!r}"


def _jobs_of(spark, build) -> int:
    """Spark jobs launched by building and collecting ``build()``, after
    one warm-up call has filled the session's memoized input tiers."""
    import uuid

    build().collect()
    sc = spark.sparkContext
    group = f"rounds-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build().collect()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_loops_launch_no_job_per_round(spark, sf_dir):
    """BPE merge rounds and PCA power iterations run on the driver after
    one aggregate, so the job count does not grow with the round count."""
    from lakeflow.ext import bpe
    from lakeflow.ext import profile as profile_ops

    def merges(n):
        return _jobs_of(spark, lambda: bpe.bpe_merges(spark, sf_dir, rounds=n))

    def pca(n):
        return _jobs_of(spark, lambda: profile_ops.embed_pca(spark, sf_dir, iters=n))

    assert merges(2) == merges(8)
    assert pca(1) == pca(4)


def test_spark_round_twin_matches_spark_on_half_way_doubles(spark):
    """The driver replay of Spark's ``round`` agrees with Spark on exact
    half-way decimals, where HALF_UP on the decimal repr and Python's
    HALF_EVEN on the binary value part ways; 1e300 needs more digits than
    the default decimal context holds."""
    import random
    from decimal import Decimal

    from lakeflow.ext.profile import _spark_round

    rng = random.Random(18)
    xs = [0.0000125, 0.1234565, -0.1234565, 1.0000005, 1e22, 1e300]
    xs += [float(Decimal(k) * Decimal("5e-7")) for k in rng.sample(range(-10**7, 10**7), 300)]
    xs += [float(Decimal(k) * Decimal("5e-10")) for k in rng.sample(range(-10**10, 10**10), 300)]
    rows = (
        spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
        .select("i", F.round("x", 6).alias("r6"), F.round("x", 9).alias("r9"))
        .orderBy("i")
        .collect()
    )
    got = [(_spark_round(x, 6), _spark_round(x, 9)) for x in xs]
    assert got == [(r.r6, r.r9) for r in rows]
    assert any(round(x, 6) != r6 for x, (r6, _) in zip(xs, got))


@pytest.mark.parametrize("loop", ["pagerank", "kcore", "dedup_clusters"])
def test_loops_release_their_caches_when_a_round_raises(spark, sf_dir, monkeypatch, loop):
    """A failing round leaves the session's cache entries as they were:
    the per-call persists are released on the error path too."""
    from lakeflow.ext import graph as graph_ops

    run = {
        "pagerank": lambda: graph_ops.pagerank(spark, sf_dir, bits=4, bands=29),
        "kcore": lambda: graph_ops.kcore(spark, sf_dir, bits=4, bands=29),
        "dedup_clusters": lambda: dedup.dedup_clusters(spark, sf_dir),
    }[loop]
    run()  # the shared LSH pairs cache is meant to outlive the call
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()

    def fail(*args, **kwargs):
        raise RuntimeError("round failed")

    if loop == "dedup_clusters":
        monkeypatch.setattr(dedup, "connected_components", fail)
    else:
        monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", fail)
    with pytest.raises(RuntimeError, match="round failed"):
        run()
    assert cache.numCachedEntries() == before


def test_lm_perplexity_properties(spark, sf_dir):
    """Cross-entropy is bounded by log2 of the smoothed event space and
    n_bigrams is exactly n_tokens-1 — checked per doc against the token
    counts the text module computes independently."""
    import math

    from pyspark.sql import functions as F

    from lakeflow.ext import lm
    from lakeflow.ext.dedup import normalized_docs, tokenized

    scores = {r["doc_id"]: r for r in lm.bigram_lm_scores(spark, sf_dir).collect()}
    toks = {
        r["doc_id"]: r["n"]
        for r in tokenized(normalized_docs(spark, sf_dir))
        .select("doc_id", F.size("tokens").alias("n"))
        .collect()
    }
    assert scores, "no documents scored"
    vocab = (
        lm._doc_bigrams(spark, sf_dir)
        .selectExpr("w1 AS w")
        .union(lm._doc_bigrams(spark, sf_dir).selectExpr("w2 AS w"))
        .distinct()
        .count()
    )
    for doc_id, r in scores.items():
        assert r["n_bigrams"] == toks[doc_id] - 1
        assert 0.0 < r["cross_entropy"] <= math.log2(vocab) + 1.0
        assert abs(r["perplexity"] - 2 ** r["cross_entropy"]) < 0.01 * r["perplexity"]


def test_rrf_fusion_score_structure(spark, sf_dir):
    """RRF scores decompose exactly into 1/(60+rank) contributions and
    the output is ordered by fused score."""
    from lakeflow.ext import lm

    rows = lm.rrf_fusion(spark, sf_dir).collect()
    assert rows
    prev = None
    for r in rows:
        expect = 0.0
        if r["rank_bm25"] is not None:
            assert 1 <= r["rank_bm25"] <= lm.RRF_TOP
            expect += 1.0 / (lm.RRF_K + r["rank_bm25"])
        if r["rank_cos"] is not None:
            assert 1 <= r["rank_cos"] <= lm.RRF_TOP
            expect += 1.0 / (lm.RRF_K + r["rank_cos"])
        assert abs(r["rrf"] - round(expect, 9)) < 1e-12
        if prev is not None:
            assert r["rrf"] <= prev + 1e-12
        prev = r["rrf"]


def test_cluster_split_no_leakage(spark, sf_dir):
    """The leakage invariant: every cluster lands in exactly one split,
    and split assignment is a pure function of cluster_id."""
    from collections import defaultdict

    from lakeflow.ext import dedup

    rows = dedup.cluster_split(spark, sf_dir).collect()
    assert len(rows) > 0
    by_cluster = defaultdict(set)
    for r in rows:
        by_cluster[r["cluster_id"]].add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    # multi-member clusters exist at test SF (else the invariant is vacuous)
    assert any(r["cluster_size"] > 1 for r in rows)


def test_containment_dominates_jaccard(spark, sf_dir):
    """For every pair both metrics emit, containment >= jaccard
    (|A∩B|/min >= |A∩B|/|A∪B| always)."""
    from lakeflow.ext import dedup

    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.near_dup_pairs(spark, sf_dir).collect()
    }
    con = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.containment_pairs(spark, sf_dir).collect()
    }
    assert con
    shared = set(jac) & set(con)
    assert shared, "metrics share no pairs at test SF"
    for k in shared:
        assert con[k] >= jac[k] - 1e-9


def test_dsir_weights_favor_target_language(spark, sf_dir):
    """English docs must average a higher target-vs-general log-ratio
    than non-English docs (the weight's whole purpose), and weights are
    finite for every doc."""
    import math

    from pyspark.sql import functions as F

    from lakeflow import io
    from lakeflow.ext import lm

    w = lm.dsir_weights(spark, sf_dir)
    langs = io.read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = w.join(langs, "doc_id")
    rows = (
        j.groupBy(F.col("lang") == "en")
        .agg(F.avg("avg_log_ratio").alias("m"))
        .collect()
    )
    means = {r[0]: r["m"] for r in rows}
    assert means[True] > means[False]
    assert all(
        math.isfinite(r["log_ratio"]) for r in w.collect()
    )


def test_mmr_rerank_reference_and_diversity(spark, sf_dir):
    """MMR output must equal a pure-python reference over the same
    candidate set, and must never rank a LESS relevant, LESS diverse
    doc above a dominating one."""
    import numpy as np

    from lakeflow import io
    from lakeflow.ext import lm
    from lakeflow.ext.similarity import _dvec
    from pyspark.sql import functions as F

    got = lm.mmr_rerank(spark, sf_dir).collect()
    assert len(got) == 10
    assert [r["mmr_rank"] for r in got] == list(range(1, 11))

    # pure-python reference from raw vectors
    rows = io.read_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v")
    ).collect()
    vecs = {r["vec_id"]: np.array(r["v"]) for r in rows}
    q = vecs[lm.RRF_QUERY_VEC] / np.linalg.norm(vecs[lm.RRF_QUERY_VEC])
    rel = {
        i: round(float(v @ q / np.linalg.norm(v)), 6)
        for i, v in vecs.items()
        if i != lm.RRF_QUERY_VEC
    }
    cand = sorted(rel, key=lambda i: (-rel[i], i))[: lm.RRF_TOP]
    N = {i: vecs[i] / np.linalg.norm(vecs[i]) for i in cand}
    sel: list[int] = []
    while len(sel) < 10 and len(sel) < len(cand):
        def key(i):
            div = max((round(float(N[i] @ N[j]), 6) for j in sel), default=0.0)
            return (round(0.7 * rel[i] - 0.3 * div, 6), -i)
        pick = max((i for i in cand if i not in sel), key=key)
        sel.append(pick)
    assert [r["vec_id"] for r in got] == sel


def test_jpeg_codec_roundtrip():
    """Baseline JFIF codec (ext/jpeg.py): flat images round-trip
    exactly (DC-only), structured images round-trip within the PSNR a
    correct baseline JPEG gives, 4:2:0 exercises upsampling, restart
    markers don't change pixels, and the progressive guard raises."""
    import numpy as np
    import pytest as _pytest

    from lakeflow.ext.jpeg import decode_jpeg, encode_jpeg

    def psnr(a, b):
        a = np.frombuffer(a, np.uint8).astype(np.float64)
        b = np.frombuffer(b, np.uint8).astype(np.float64)
        mse = ((a - b) ** 2).mean()
        return 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)

    # flat gray — quantizes exactly
    flat = bytes([128, 128, 128] * (16 * 16))
    w, h, ch, px = decode_jpeg(encode_jpeg(16, 16, flat, quality=90))
    assert (w, h, ch) == (16, 16, 3)
    assert psnr(flat, px) > 90

    # gradient, non-multiple-of-8 dims
    g = np.zeros((17, 24, 3), np.uint8)
    for yy in range(17):
        for xx in range(24):
            g[yy, xx] = (xx * 10 % 256, yy * 13 % 256, (xx + yy) * 5 % 256)
    gb = g.tobytes()
    for q, floor in ((95, 48), (85, 43), (60, 38)):
        dw, dh, _, px = decode_jpeg(encode_jpeg(24, 17, gb, quality=q))
        assert (dw, dh) == (24, 17)
        assert psnr(gb, px) > floor

    # 4:2:0 subsampled
    xs, ys_ = np.meshgrid(np.arange(33), np.arange(18))
    sm = np.stack(
        [(xs * 3) % 200 + 20, (ys_ * 4) % 200 + 20, ((xs + ys_) * 2) % 200 + 20],
        axis=2,
    ).astype(np.uint8)
    dw, dh, _, px = decode_jpeg(
        encode_jpeg(33, 18, sm.tobytes(), quality=90, subsample=True)
    )
    assert (dw, dh) == (33, 18)
    assert psnr(sm.tobytes(), px) > 40

    # restart markers: byte-identical pixels with and without
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (40, 56, 3)).astype(np.uint8).tobytes()
    assert (
        decode_jpeg(encode_jpeg(56, 40, img, restart_interval=4))[3]
        == decode_jpeg(encode_jpeg(56, 40, img))[3]
    )

    # honest subset guard: progressive (SOF2) refuses loudly
    prog = bytearray(encode_jpeg(8, 8, bytes(192)))
    i = prog.find(b"\xff\xc0")
    prog[i + 1] = 0xC2
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(prog))


def test_wav_codec_roundtrip_and_chunk_walking():
    """Real-codec standard for audio: encode→decode is byte-exact,
    the reader walks unknown chunks (LIST/INFO) a stricter mirror
    parser would choke on, and compressed formats raise the honest
    subset guard."""
    import struct

    import numpy as np

    from lakeflow.ext import multimodal

    pcm = np.arange(-500, 500, dtype="<i2").tobytes()
    wav = multimodal.encode_wav(16000, 2, pcm)
    rate, ch, bits, out = multimodal.decode_wav(wav)
    assert (rate, ch, bits) == (16000, 2, 16)
    assert out == pcm

    # splice an unknown LIST chunk between fmt and data — still parses
    head, data_chunk = wav[:36], wav[36:]
    extra = struct.pack("<4sI", b"LIST", 4) + b"INFO"
    spliced = (
        head[:4]
        + struct.pack("<I", struct.unpack("<I", head[4:8])[0] + len(extra))
        + head[8:]
        + extra
        + data_chunk
    )
    assert multimodal.decode_wav(spliced)[3] == pcm

    # non-PCM format tag raises, not silently misreads
    bad = bytearray(wav)
    bad[20] = 2  # format tag 2 = ADPCM
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        multimodal.decode_wav(bytes(bad))


def test_corr_survives_constant_column(spark, tmp_path):
    """Pearson on a zero-variance slice is undefined, not a job abort:
    under ANSI the old expression divided by sqrt(0). A profiler must
    return NULL for degenerate slices and keep going."""
    from lakeflow.ext import profile

    df = spark.createDataFrame(
        [(1, "A", 5.0, 100.0), (2, "A", 5.0, 200.0), (3, "B", 1.0, 10.0)],
        "l_orderkey long, l_returnflag string, l_quantity double, l_extendedprice double",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    rows = {r.l_returnflag: r.corr_qty_price for r in
            profile.correlation(spark, str(tmp_path)).collect()}
    assert rows["A"] is None  # constant quantity -> undefined, not abort
    assert rows["B"] is None  # single row -> undefined, not abort


def test_incremental_dedup_consistent_with_full_pairs(spark, sf_dir):
    """The incremental (batch-vs-corpus) decision table must agree with
    the full pair join restricted to one-end-in-batch: same candidate
    banding, same verify threshold — so for every batch doc its
    n_matches equals the count of cross pairs touching it, and the
    reported best match is the max-jaccard (tie -> lowest id) one.
    Both sides read the one md5 signature tier."""
    inc = {
        r.doc_id: (r.dup_of, r.jaccard, r.n_matches)
        for r in dedup.incremental_near_dups(spark, sf_dir).collect()
    }
    pairs = dedup.near_dup_pairs(spark, sf_dir).collect()
    expected: dict[int, list[tuple[float, int]]] = {}
    for r in pairs:
        for d, h in ((r.doc_a, r.doc_b), (r.doc_b, r.doc_a)):
            if d % 5 == 0 and h % 5 != 0:
                expected.setdefault(d, []).append((r.jaccard, h))
    assert set(inc) == set(expected)
    for d, matches in expected.items():
        dup_of, jacc, n = inc[d]
        assert n == len(matches)
        best = max(matches, key=lambda m: (m[0], -m[1]))
        assert (jacc, dup_of) == best
    for d, (dup_of, jacc, _) in inc.items():
        assert d % 5 == 0 and dup_of % 5 != 0 and jacc >= 0.5


def test_semdedup_greedy_drop_invariants(spark, sf_dir):
    """SemDeDup decision-table invariants: a dropped vector's twin has
    a smaller id, lives in the SAME cluster, and their cosine really
    exceeds tau; kept rows carry NULL dup_of/max_cos; every embedding
    appears exactly once; and a kept/dropped pair can never be an
    identical-vector twin where the SMALLER id was the one dropped
    (greedy keep-first)."""
    rows = similarity.semdedup(spark, sf_dir).collect()
    emb = {
        r.vec_id: r.embedding
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    assert len(rows) == len(emb)
    assert len({r.vec_id for r in rows}) == len(rows)
    by_id = {r.vec_id: r for r in rows}
    import math

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return num / (na * nb) if na and nb else None

    n_dropped = 0
    for r in rows:
        if r.dropped:
            n_dropped += 1
            assert r.dup_of is not None and r.dup_of < r.vec_id
            assert by_id[r.dup_of].list_id == r.list_id
            c = cos(emb[r.vec_id], emb[r.dup_of])
            assert c is not None and round(c, 6) == r.max_cos
            assert r.max_cos > 0.4
        else:
            assert r.dup_of is None and r.max_cos is None
    # the corpus plants real near-dups at every driver SF — the
    # operator must actually drop something, not vacuously pass
    assert n_dropped > 0


def test_gopher_rules_audit_table_structure(spark, sf_dir):
    """Every document gets exactly one verdict row; keep == AND of the
    per-rule flags; each rule trims neither everything nor nothing on
    the synthetic corpus (thresholds are calibrated to trim a real
    tail — a rule stuck at all-false means a threshold typo)."""
    from lakeflow.ext import text as text_ops

    df = text_ops.gopher_rules(spark, sf_dir)
    rows = df.collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs
    rules = [
        "r_words",
        "r_mean_word_len",
        "r_symbols",
        "r_bullets",
        "r_ellipsis",
        "r_alpha",
        "r_stopwords",
    ]
    for r in rows:
        assert r.keep == all(getattr(r, k) for k in rules)
    kept = sum(1 for r in rows if r.keep)
    assert 0 < kept < n_docs  # calibrated cascade: trims a tail, not all
    for k in ("r_words", "r_stopwords"):  # the two corpus-active rules
        failing = sum(1 for r in rows if not getattr(r, k))
        assert 0 < failing < n_docs


def test_span_dedup_per_doc_invariants(spark, sf_dir):
    """Exact-substring dedup audit table: one row per document,
    n_spans == max(words - 7, 0) recomputed locally, dup_spans never
    exceeds n_spans, flagged iff dup_frac >= 0.5, and the planted
    near-dup docs make the corpus-wide duplicate count non-zero."""
    from lakeflow.ext import text as text_ops

    rows = text_ops.span_dedup(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    assert len(rows) == len(docs)
    import re

    for r in rows:
        t = docs[r.doc_id]
        # mirror split('\s+') on trimmed text: empty/whitespace-only
        # text yields [''] (one token) in both engines
        words = len(re.split(r"\s+", t.strip())) if t is not None else 0
        assert r.n_spans == max(words - 7, 0), (r.doc_id, words, r.n_spans)
        assert 0 <= r.dup_spans <= r.n_spans
        if r.n_spans == 0:
            assert r.dup_frac is None and not r.flagged
        else:
            assert r.flagged == (r.dup_frac >= 0.5)
    assert sum(r.dup_spans for r in rows) > 0  # planted near-dups


def test_knn_sq8_recall_and_rerank(spark, sf_dir):
    """int8-quantized ANN: the exact rerank means the top-k it returns
    are scored with TRUE cosine, so every returned pair that the brute
    force also returns carries the identical rounded score; recall
    floor is high (quantization is a much finer approximation than
    2-bit LSH buckets)."""
    exact_rows = similarity.knn_bruteforce(spark, sf_dir, k=5).collect()
    sq8_rows = similarity.knn_sq8(spark, sf_dir, k=5).collect()
    exact = {(r["q_id"], r["vec_id"]): r["cosine"] for r in exact_rows}
    approx = {(r["q_id"], r["vec_id"]): r["cosine"] for r in sq8_rows}
    recall = len(exact.keys() & approx.keys()) / len(exact)
    assert recall >= 0.6, f"sq8 recall suspiciously low: {recall}"
    for pair in exact.keys() & approx.keys():
        assert exact[pair] == approx[pair]  # rerank is full precision
    for r in sq8_rows:  # quantized score is a *bounded* approximation
        if r["approx_cos"] is not None and r["cosine"] is not None:
            assert abs(r["approx_cos"] - r["cosine"]) < 0.1


def test_bloom_decontam_no_false_negatives(spark, sf_dir):
    """The defining Bloom property: NO false negatives — every corpus
    doc whose fingerprint exactly matches an eval-slice fingerprint
    MUST appear in the output with exact_hit=true; docs in the output
    without a fingerprint match are the (legitimate) false positives."""
    from lakeflow.ext import text as text_ops
    from lakeflow.ext.dedup import normalized_docs

    out = {r.doc_id: r.exact_hit for r in text_ops.bloom_decontam(spark, sf_dir).collect()}
    nd = normalized_docs(spark, sf_dir).select(
        "doc_id", F.md5("norm").alias("fp")
    )
    rows = nd.collect()
    eval_fps = {r.fp for r in rows if r.doc_id % text_ops.BLOOM_EVAL_MOD == 0}
    for r in rows:
        if r.doc_id % text_ops.BLOOM_EVAL_MOD == 0:
            assert r.doc_id not in out  # eval slice itself is not scored
        elif r.fp in eval_fps:
            assert out.get(r.doc_id) is True, f"false negative: {r.doc_id}"
    # every flagged-without-exact-match doc is a false positive — the
    # audit column must agree with a direct fingerprint check
    for doc_id, exact in out.items():
        fp = next(r.fp for r in rows if r.doc_id == doc_id)
        assert exact == (fp in eval_fps)


def test_quality_classifier_invariants(spark, sf_dir):
    """n_feats = 2·tokens − 1 for non-empty docs (unigrams + bigrams);
    score ∈ (0,1); keep ⇔ score ≥ 0.5; scores move with content (not
    constant — a stuck sigmoid means the feature hash collapsed)."""
    from lakeflow.ext import text as text_ops
    from lakeflow.ext.dedup import normalized_docs, tokenized

    rows = text_ops.quality_classifier(spark, sf_dir).collect()
    n_toks = {
        r.doc_id: len([t for t in r.tokens if t])
        for r in tokenized(normalized_docs(spark, sf_dir)).collect()
    }
    assert len(rows) == len(n_toks)
    scores = set()
    for r in rows:
        nt = n_toks[r.doc_id]
        assert r.n_feats == (2 * nt - 1 if nt >= 1 else 0)
        if r.n_feats == 0:
            assert r.score is None and r.keep is False
        else:
            assert 0.0 < r.score < 1.0
            assert r.keep == (r.score >= 0.5)
            scores.add(r.score)
    assert len(scores) > 10  # scores vary with content


def test_mix_temperature_flattens_shares(spark, sf_dir):
    """Shares are a distribution (sum to 1); T<1 compresses the spread
    relative to natural shares (max/min ratio strictly shrinks when
    the inventory is not uniform); oversample = allocation/actual."""
    from lakeflow.ext import packing

    rows = packing.mix_temperature(spark, sf_dir).collect()
    nat = [r.nat_share for r in rows]
    temp = [r.temp_share for r in rows]
    assert abs(sum(nat) - 1.0) < 1e-4 and abs(sum(temp) - 1.0) < 1e-4
    if max(nat) > min(nat):
        assert max(temp) / min(temp) < max(nat) / min(nat)
    for r in rows:
        assert abs(r.oversample - r.target_tokens / r.actual_tokens) < 1e-4


def test_knn_pq_recall_and_rerank(spark, sf_dir):
    """PQ ANN: exact rerank ⇒ any pair shared with brute force carries
    the identical rounded cosine; recall floor is modest (8 subspaces
    × 8 codes is a coarse codebook on near-uniform synthetic vectors —
    the operator's value is the 64× memory cut, and candidates are
    re-scored exactly); the ADC distance must be a genuine distance
    (non-negative, finite)."""
    exact_rows = similarity.knn_bruteforce(spark, sf_dir, k=5).collect()
    pq_rows = similarity.knn_pq(spark, sf_dir, k=5).collect()
    exact = {(r["q_id"], r["vec_id"]): r["cosine"] for r in exact_rows}
    approx = {(r["q_id"], r["vec_id"]): r["cosine"] for r in pq_rows}
    assert len(pq_rows) == len(exact_rows)  # k returned per query
    recall = len(exact.keys() & approx.keys()) / len(exact)
    assert recall >= 0.2, f"pq recall below floor: {recall}"
    for pair in exact.keys() & approx.keys():
        assert exact[pair] == approx[pair]  # rerank is full precision
    for r in pq_rows:
        assert r["adc_dist"] >= 0.0


def test_hard_negatives_mining_invariants(spark, sf_dir):
    """Candidate set == the BM25 top-k (mining relabels, never
    re-retrieves); label agrees with the cosine threshold; the query
    doc itself never appears."""
    from lakeflow.ext import lm
    from lakeflow.ext.text import bm25_scores

    rows = lm.hard_negatives(spark, sf_dir).collect()
    bm_ids = {r.doc_id for r in bm25_scores(spark, sf_dir, top=lm.HN_TOP).collect()}
    assert {r.doc_id for r in rows} <= bm_ids
    assert all(r.doc_id != lm.RRF_QUERY_VEC for r in rows)
    for r in rows:
        if r.cosine is not None and r.cosine >= lm.HN_POS_COS:
            assert r.label == "positive"
        else:
            assert r.label == "hard_negative"


def test_cm_sketch_one_sided_error(spark, sf_dir):
    """The CM guarantee: estimate ≥ truth for EVERY queried key (a
    negative overcount means the hash replay is broken); at width 16 <
    the corpus vocabulary, collisions must actually occur so the error
    path is exercised, not vacuously zero."""
    from lakeflow.ext import profile as profile_ops

    rows = profile_ops.cm_sketch_tokens(spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r.overcount >= 0 for r in rows)
    assert all(r.cm_estimate == r.true_count + r.overcount for r in rows)
    assert any(r.overcount > 0 for r in rows)  # collisions exercised


def test_hll_sketch_accuracy_envelope(spark, sf_dir):
    """HLL with m=64 registers has relative standard error
    1.04/√64 ≈ 13% — the estimate must land within a generous 4σ of
    the truth (a blown envelope means broken register math, not bad
    luck), and the register population must be consistent."""
    from lakeflow.ext import profile as profile_ops

    r = profile_ops.hll_sketch(spark, sf_dir).collect()[0]
    assert r.m == 64
    assert 0 < r.registers_hit <= min(r.m, r.true_distinct)
    assert r.rel_error < 4 * 1.04 / (r.m ** 0.5)
    assert r.estimate > 0


def test_embed_pca_invariants(spark, sf_dir):
    """PC1 is a unit vector (up to the 9dp iterate rounding); the sign
    convention holds (leading coordinate ≥ 0); the Rayleigh quotient
    is a positive variance no larger than the total, and the mean
    vector matches a direct per-dimension average."""
    from lakeflow.ext import profile as profile_ops

    rows = profile_ops.embed_pca(spark, sf_dir).collect()
    assert len(rows) == 64
    norm = sum(r.pc1 ** 2 for r in rows) ** 0.5
    assert abs(norm - 1.0) < 1e-4
    assert rows[0].pc1 >= 0
    assert 0 < rows[0].eigenvalue
    assert 0 < rows[0].var_share <= 1


def test_embed_abtt_projection_removed(spark, sf_dir):
    """Norms can only shrink (Pythagoras); the removed mass equals the
    projection coefficient squared (within rounding); re-projecting a
    corrected vector onto PC1 is ~0 for a spot-checked vector."""
    from lakeflow.ext import profile as profile_ops

    rows = profile_ops.embed_abtt(spark, sf_dir).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.norm_after <= r.norm_before + 1e-6
        assert abs(r.norm_before**2 - r.norm_after**2 - r.proj**2) < 1e-3
    pca = {r.pos: r for r in profile_ops.embed_pca(spark, sf_dir).collect()}
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter("vec_id = 0").collect()[0].embedding
    )
    c = [emb[i] - pca[i].mu for i in range(64)]
    proj = sum(c[i] * pca[i].pc1 for i in range(64))
    corrected = [c[i] - proj * pca[i].pc1 for i in range(64)]
    assert abs(sum(corrected[i] * pca[i].pc1 for i in range(64))) < 1e-4


def test_knn_ivfpq_composition_invariants(spark, sf_dir):
    """IVF-PQ = IVF pruning ∘ PQ scan: every returned neighbor must lie
    in one of the query's nprobe probed lists (the pruning is real, not
    decorative); any pair shared with brute force carries the identical
    rounded cosine (rerank is full precision); ADC distances are genuine
    distances; and the candidate pool per query never exceeds the PQ
    variant's (pruning can only shrink the scan)."""
    exact_rows = similarity.knn_bruteforce(spark, sf_dir, k=5).collect()
    ivfpq_rows = similarity.knn_ivfpq(spark, sf_dir, k=5).collect()
    assert ivfpq_rows  # every probed query produced neighbors
    exact = {(r.q_id, r.vec_id): r.cosine for r in exact_rows}
    approx = {(r.q_id, r.vec_id): r.cosine for r in ivfpq_rows}
    for pair in exact.keys() & approx.keys():
        assert exact[pair] == approx[pair]
    for r in ivfpq_rows:
        assert r.adc_dist >= 0.0
    # pruning really restricts the scan: neighbor ∈ probed lists
    from lakeflow import io as lio
    from pyspark.sql import functions as F

    emb = (
        lio.read_table(spark, sf_dir, "embeddings")
        .select("vec_id", similarity._dvec("embedding").alias("v"))
        .select("vec_id", "v", similarity._norm("v").alias("nv"))
    )
    cent = similarity.kmeans_centroids(emb, 8, 2)
    lists = {
        r.vec_id: r.list_id
        for r in similarity._nearest_lists(emb, cent, "v", 1).collect()
    }
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        "vec_id", F.col("v").alias("qv")
    )
    probed = {}
    for r in similarity._nearest_lists(q, cent, "qv", 4).collect():
        probed.setdefault(r.vec_id, set()).add(r.list_id)
    for r in ivfpq_rows:
        assert lists[r.vec_id] in probed[r.q_id], (r.q_id, r.vec_id)


def test_embed_rp_unbiased_and_sparse(spark, sf_dir):
    """JL unbiasedness: E‖y‖² = ‖x‖², so the corpus-mean norm ratio
    must sit near 1 (var 2/k per vector → the 500-vector mean is tight);
    the portable sign matrix must have ~1/3 density (Achlioptas), and
    every vector must project to at most k output rows."""
    from lakeflow.ext import profile as profile_ops

    rows = profile_ops.embed_rp(spark, sf_dir).collect()
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, []).append(r.y)
    assert all(len(ys) <= profile_ops.RP_K for ys in by_vec.values())
    emb = {
        r.vec_id: r.embedding
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    ratios = []
    for vid, ys in by_vec.items():
        nx2 = sum(float(x) * float(x) for x in emb[vid])
        if nx2 > 0:
            ratios.append(sum(y * y for y in ys) / nx2)
    assert ratios
    mean = sum(ratios) / len(ratios)
    assert 0.75 < mean < 1.25, f"JL unbiasedness violated: mean ratio {mean}"


def test_quantile_hist_error_bound_and_merge(spark, sf_dir):
    """The fixed-grid sketch's upper-edge estimates must land within
    one cell width ABOVE the exact percentile (never below it — the
    selected bin's upper edge covers the target rank by construction),
    and the merged ALL sketch must account for exactly the sum of the
    per-group counts."""
    from pyspark.sql import functions as F

    from lakeflow import io as io_mod
    from lakeflow.ext import profile as profile_ops

    rows = profile_ops.quantile_hist(spark, sf_dir).collect()
    li = (
        io_mod.read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
    )
    mn, mx = li.agg(F.min("l_extendedprice"), F.max("l_extendedprice")).first()
    width = (mx - mn) / profile_ops.QH_BINS

    grouped = {}
    for r in rows:
        grouped.setdefault(r.scope, []).append(r)
    assert "ALL" in grouped and len(grouped) >= 2
    n_all = grouped["ALL"][0].n_rows
    assert n_all == sum(g[0].n_rows for s, g in grouped.items() if s != "ALL")

    for scope, g in grouped.items():
        flt = li if scope == "ALL" else li.filter(F.col("l_returnflag") == scope)
        for r in g:
            exact = flt.agg(
                F.expr(
                    f"percentile_disc({r.p}) WITHIN GROUP (ORDER BY l_extendedprice)"
                )
            ).first()[0]
            est = r.est_micro / 1e6
            assert exact <= est + 1e-6, (scope, r.p, exact, est)
            assert est - exact <= width + 1e-6, (scope, r.p, exact, est)


def test_ann_recall_invariants(spark, sf_dir):
    """Every method's recall is a valid fraction of the shared ground
    truth; SQ8 (quantize + exact rerank, no candidate pruning beyond
    k·rerank) must achieve perfect recall on the fixture corpus.
    returned_pairs is a CONTRACT only as an upper bound (k per query):
    LSH buckets and low-nprobe probed lists can legitimately hold fewer
    than k candidates, so equality is asserted only for the
    candidate-complete methods (ADVICE r7 #2)."""
    from lakeflow.ext import similarity as sim

    rows = sim.ann_recall(spark, sf_dir).collect()
    assert sorted(r.method for r in rows) == [
        "ivf", "ivfpq", "ivfpq_hi", "lsh", "sq8",
    ]
    for r in rows:
        assert 0.0 <= r.recall_at_k <= 1.0
        assert r.hits <= r.returned_pairs <= r.gt_pairs
    by = {r.method: r for r in rows}
    # sq8 scans every corpus vector (no candidate pruning): complete
    assert by["sq8"].returned_pairs == by["sq8"].gt_pairs
    assert by["sq8"].recall_at_k == 1.0
    # the deployment-resolution twin must not be WORSE than the pin
    assert by["ivfpq_hi"].recall_at_k >= by["ivfpq"].recall_at_k


def test_coarse_callable_matches_tuple(spark, sf_dir):
    """A pending coarse build handed to the IVF family as a zero-arg
    callable (ann_recall's concurrent-build form, r12) must yield
    row-identical results to the prebuilt tuple form — the overlap is
    a scheduling change only."""
    from lakeflow.ext import similarity as sim

    emb = (
        sim.io.read_table(spark, sf_dir, "embeddings")
        .select("vec_id", sim._dvec("embedding").alias("v"))
        .select("vec_id", "v", sim._norm("v").alias("nv"))
    )
    cent = sim.kmeans_centroids(emb, 8, 2)
    lists = sim._nearest_lists(emb, cent, "v", 1)
    coarse = (cent, lists)
    for fn in (sim.knn_ivf, sim.knn_ivfpq):
        via_tuple = sorted(map(tuple, fn(spark, sf_dir, _coarse=coarse).collect()))
        via_call = sorted(
            map(tuple, fn(spark, sf_dir, _coarse=lambda: coarse).collect())
        )
        assert via_call == via_tuple, fn.__name__


def test_coarse_pending_future_matches_tuple(spark, sf_dir):
    """ann_recall's production form: the IVF family gets the ``result``
    of a coarse build still pending in the pool, and several workers
    resolve it concurrently. Rows must equal the prebuilt tuple form."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from lakeflow.ext import similarity as sim

    emb = (
        sim.io.read_table(spark, sf_dir, "embeddings")
        .select("vec_id", sim._dvec("embedding").alias("v"))
        .select("vec_id", "v", sim._norm("v").alias("nv"))
    )
    cent = sim.kmeans_centroids(emb, 8, 2)
    coarse = (cent, sim._nearest_lists(emb, cent, "v", 1))
    fns = (sim.knn_ivf, sim.knn_ivfpq)
    want = [
        sorted(map(tuple, fn(spark, sf_dir, _coarse=coarse).collect())) for fn in fns
    ]

    release = threading.Event()

    def coarse_build():
        assert release.wait(timeout=60)
        c = sim.kmeans_centroids(emb, 8, 2)
        return c, sim._nearest_lists(emb, c, "v", 1).localCheckpoint(eager=False)

    @inheritable_thread_target(spark)
    def run(fn, resolve):
        return sorted(map(tuple, fn(spark, sf_dir, _coarse=resolve).collect()))

    with ThreadPoolExecutor(max_workers=len(fns) + 1) as pool:
        pending = pool.submit(inheritable_thread_target(spark)(coarse_build))
        runs = [pool.submit(run, fn, pending.result) for fn in fns]
        assert not pending.done()  # the workers start before the build
        release.set()
        got = [r.result(timeout=600) for r in runs]
    assert got == want


def test_source_kl_invariants(spark, sf_dir):
    """Gibbs' inequality: KL(source ‖ corpus) ≥ 0 for every source
    (up to the 1e-6 quantization floor), with equality only for a
    distribution identical to the corpus mix; token totals must sum to
    the corpus total."""
    from pyspark.sql import functions as F

    from lakeflow.ext import lm as lm_ops
    from lakeflow.ext.dedup import normalized_docs, tokenized

    rows = lm_ops.source_kl(spark, sf_dir).collect()
    assert len(rows) >= 2
    assert all(r.kl_vs_corpus >= -1e-6 for r in rows)
    total = (
        tokenized(normalized_docs(spark, sf_dir))
        .select(F.explode("tokens").alias("t"))
        .filter(F.col("t") != "")
        .count()
    )
    assert sum(r.n_tokens for r in rows) == total


def test_pagerank_invariants(spark, sf_dir):
    """Rank mass is conserved (no dangling nodes in the undirected
    graph, so Σ ranks = 1 up to the per-round nano-quantization), every
    rank is positive, and the top-k cut is ordered rank-desc with the
    vec_id tiebreak."""
    from lakeflow.ext import graph as graph_ops

    rows = graph_ops.pagerank(spark, sf_dir, top=10**6).collect()
    assert rows, "near-dup graph should be non-empty at fixture SF"
    total = sum(r.pagerank for r in rows)
    # drift bound derived from the quantization sites (ADVICE r7 #3):
    # each round quantizes one contribution per DIRECTED edge (2·|E|,
    # the undirected graph walks both ways) at ≤0.5e-9 each, plus one
    # 9dp round per node rank; a 1e-7 tail covers double accumulation
    n_directed = 2 * graph_ops._edges(spark, sf_dir, 0.3, "lsh").count()
    bound = graph_ops.PR_ITERS * (n_directed + len(rows)) * 0.5e-9 + 1e-7
    assert abs(total - 1.0) < bound
    assert all(r.pagerank > 0 for r in rows)
    top = graph_ops.pagerank(spark, sf_dir).collect()
    assert [
        (r.vec_id, r.pagerank) for r in top
    ] == [
        (r.vec_id, r.pagerank)
        for r in sorted(rows, key=lambda r: (-r.pagerank, r.vec_id))[: len(top)]
    ]


def test_epoch_shuffle_permutes_reproducibly(spark, sf_dir):
    """Per-epoch order is (a) a complete 1..|shard| numbering within
    every shard, (b) identical across re-evaluation (content-keyed, no
    task RNG), (c) a DIFFERENT permutation at a different epoch, with
    membership (doc -> shard) unchanged."""
    from lakeflow.ext import packing

    e0 = packing.epoch_shuffle(spark, sf_dir, epoch=0).collect()
    e0b = packing.epoch_shuffle(spark, sf_dir, epoch=0).collect()
    e1 = packing.epoch_shuffle(spark, sf_dir, epoch=1).collect()
    assert e0 == e0b  # reproducible
    by_shard: dict[int, list[int]] = {}
    for r in e0:
        by_shard.setdefault(r.shard_id, []).append(r.position)
    for shard, pos in by_shard.items():
        assert sorted(pos) == list(range(1, len(pos) + 1)), shard
    assert {(r.doc_id, r.shard_id) for r in e0} == {
        (r.doc_id, r.shard_id) for r in e1
    }  # membership is epoch-independent
    assert [r.doc_id for r in e0] != [r.doc_id for r in e1]  # order isn't


def test_zorder_layout_invariants(spark, sf_dir):
    """Zone maps partition the corpus: row counts sum to the lineitem
    count, file ids are valid z prefixes, and each file's bucket-space
    footprint stays inside its 8x8 z-tile (the clustering property the
    scan planner prunes with)."""
    from lakeflow.ext import layout

    rows = layout.zorder_layout(spark, sf_dir).collect()
    li_count = layout._line_days(spark, sf_dir).count()
    assert sum(r.n_rows for r in rows) == li_count
    assert all(0 <= r.file_id < layout.N_FILES for r in rows)
    assert len({r.file_id for r in rows}) == len(rows)
    # bucket-space footprint: re-derive each file's bucket spans from
    # the bucketed scan; a z-prefix file covers exactly one 8x8 tile
    tile = layout.ZCELLS // 8
    b = layout._bucketed(spark, sf_dir)
    spans = (
        b.selectExpr(f"z DIV {layout.ZFILE_SHIFT} AS file_id", "bx", "by")
        .groupBy("file_id")
        .agg(
            (F.max("bx") - F.min("bx")).alias("sx"),
            (F.max("by") - F.min("by")).alias("sy"),
        )
        .collect()
    )
    assert all(r.sx < tile and r.sy < tile for r in spans)


def test_skipping_gain_zorder_wins(spark, sf_dir):
    """The metric reproduces the OPTIMIZE ZORDER rationale: linear
    layout is unbeatable on its own sort key but reads ~every file on
    the other dim; z-order prunes on BOTH dims, so its worst dim beats
    linear's worst dim by a wide margin."""
    from lakeflow.ext import layout

    rows = layout.skipping_gain(spark, sf_dir).collect()
    assert len(rows) == 4
    frac = {(r.layout, r.dim): r.exp_read_frac for r in rows}
    assert all(0 < v <= 1.0 for v in frac.values())
    # linear wins its own key outright...
    assert frac[("linear_pk", "pk")] <= frac[("zorder", "pk")]
    # ...but its other-dim cost is near-total scan
    assert frac[("linear_pk", "day")] > 0.9
    # z-order's WORST dim beats linear's worst dim at least 2x
    z_worst = max(frac[("zorder", "pk")], frac[("zorder", "day")])
    lin_worst = max(frac[("linear_pk", "pk")], frac[("linear_pk", "day")])
    assert z_worst * 2 <= lin_worst


def test_compaction_plan_invariants(spark, sf_dir):
    """Bin packing conserves the inventory (file count and bytes), cuts
    at most TARGET_BINS bins per partition, and respects the next-fit
    overflow bound: a bin exceeds target by less than its largest file
    (the last file placed is the only overshoot)."""
    from lakeflow.ext import layout

    rows = layout.compaction_plan(spark, sf_dir).collect()
    docs = (
        layout.io.read_table(spark, sf_dir, "documents")
        .selectExpr(
            "coalesce(source, '(none)') AS src",
            f"pmod(doc_id, {layout.FILE_MOD}) AS fid",
            "coalesce(n_chars, 0) AS nc",
        )
        .groupBy("src", "fid")
        .agg(F.sum("nc").alias("bytes"))
        .collect()
    )
    n_files = {}
    tot_bytes = {}
    for r in docs:
        n_files[r.src] = n_files.get(r.src, 0) + 1
        tot_bytes[r.src] = tot_bytes.get(r.src, 0) + r.bytes
    assert {r.src for r in rows} == set(n_files)
    for src in n_files:
        bins = [r for r in rows if r.src == src]
        assert sum(r.n_files for r in bins) == n_files[src]
        assert sum(r.bin_bytes for r in bins) == tot_bytes[src]
        assert len(bins) <= layout.TARGET_BINS
        target = max(1, (tot_bytes[src] + layout.TARGET_BINS - 1) // layout.TARGET_BINS)
        for b in bins:
            assert b.bin_bytes < target + b.max_file_bytes or b.n_files == 1


def test_ngram_novelty_invariants(spark, sf_dir):
    """Novelty is a first-occurrence partition of the shingle
    postings: novel <= total per source, every distinct shingle in the
    corpus is novel in EXACTLY one document (so novel sums to the
    corpus-wide distinct-shingle count), and averages stay in [0, 1]."""
    from lakeflow.ext import dedup as dd

    rows = dd.ngram_novelty(spark, sf_dir).collect()
    assert rows
    assert all(0.0 <= r.avg_novelty <= 1.0 for r in rows)
    assert all(r.novel_shingles <= r.total_shingles for r in rows)
    assert all(0 <= r.fully_novel_docs <= r.n_docs for r in rows)
    distinct_fps = (
        dd.tokenized(dd.normalized_docs(spark, sf_dir))
        .select(F.explode(dd._shingles(F.col("tokens"), 5)).alias("s"))
        .select(
            F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10)
            .cast("bigint")
            .alias("fp")
        )
        .distinct()
        .count()
    )
    assert sum(r.novel_shingles for r in rows) == distinct_fps


def test_lsh_occupancy_prices_the_candidate_join(spark, sf_dir):
    """The histogram's candidate_pairs column must sum to EXACTLY the
    pre-distinct candidate volume of the banding join (sum occ-choose-2
    over buckets), total_keys must equal docs x bands, and every class
    obeys its boundaries."""
    from lakeflow.ext import dedup as dd

    rows = dd.lsh_occupancy(spark, sf_dir).collect()
    docs = dd.normalized_docs(spark, sf_dir).count()
    assert sum(r.total_keys for r in rows) == docs * 8
    bounds = {lbl: hi for lbl, hi in dd._OCC_CLASSES}
    for r in rows:
        hi = bounds.get(r.size_class)
        if hi is not None:
            assert r.max_occ <= hi and r.class_ub == hi
        else:
            assert r.size_class == dd._OCC_OVERFLOW and r.max_occ >= 65
            assert r.class_ub == dd._OCC_OVERFLOW_UB
    # rows arrive in occupancy order, not label order (ADVICE r8)
    ubs = [r.class_ub for r in rows]
    assert ubs == sorted(ubs)
    # exact join-cost attribution: recompute Σ occ·(occ-1)/2 directly
    sig = dd.minhash_signatures(dd.normalized_docs(spark, sf_dir), 16)
    occ = (
        dd._band_keys(sig, 16, 8)
        .groupBy("band", "band_sig")
        .count()
        .collect()
    )
    expected = sum(r["count"] * (r["count"] - 1) // 2 for r in occ)
    assert sum(r.candidate_pairs for r in rows) == expected


def test_length_buckets_padding_accounting(spark, sf_dir):
    """Bucketing conserves docs and tokens, every bucket's cap bounds
    its contents (cap/2 < tokens <= cap by construction of the ladder),
    and bucketed padding never exceeds the single-global-batch padding
    it exists to beat."""
    from lakeflow.ext import packing
    from lakeflow.ext.text import TOKEN_SPLIT

    rows = packing.length_buckets(spark, sf_dir).collect()
    toks = [
        r.tokens
        for r in packing.io.read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.size(F.split(F.trim(F.col("text")), TOKEN_SPLIT)).alias("tokens")
        )
        .collect()
    ]
    assert sum(r.n_docs for r in rows) == len(toks)
    assert sum(r.total_tokens for r in rows) == sum(toks)
    for r in rows:
        assert r.total_tokens <= r.padded_tokens == r.n_docs * r.bucket_cap
        assert 0.0 <= r.waste_frac < 1.0
        # cap tightness: the bucket holds at least one doc above cap/2
        # (otherwise those docs would have landed in the smaller bucket)
        if r.bucket_cap > packing.LENGTH_BUCKET_CAPS[0]:
            assert r.total_tokens > r.n_docs * (r.bucket_cap // 2) - r.n_docs
    global_pad = len(toks) * max(toks) - sum(toks)
    bucketed_pad = sum(r.padded_tokens - r.total_tokens for r in rows)
    assert bucketed_pad <= global_pad + sum(toks)  # and usually far less


def test_kcore_peeling_invariants(spark, sf_dir):
    """Peeling is monotone (kept nodes/edges never grow), round 1
    matches the raw degree filter, and the k-core is a subgraph of the
    triangle-bearing region's closure (every kept edge endpoint is a
    kept node by construction of the semi joins)."""
    from lakeflow.ext import graph as graph_ops

    rows = graph_ops.kcore(spark, sf_dir, bits=4, bands=29).collect()
    assert [r.round for r in rows] == list(range(1, graph_ops.KCORE_ROUNDS + 1))
    for a, b in zip(rows, rows[1:]):
        assert b.nodes_kept <= a.nodes_kept
        assert b.edges_kept <= a.edges_kept
    e = graph_ops._edges(spark, sf_dir, 0.3, "lsh", bits=4, bands=29)
    und = e.unionAll(e.selectExpr("d AS s", "s AS d"))
    deg1 = (
        und.groupBy("s").count().filter(F.col("count") >= graph_ops.KCORE_K).count()
    )
    assert rows[0].nodes_kept == deg1


def test_graph_capped_twins(spark, sf_dir):
    """The bucket_cap=128 deployment twins (r9): the occupancy filter
    can only shrink the edge list, the capped outputs keep their
    family invariants (rank order + positivity; peeling monotonicity),
    and kcore releases every per-call cache it takes (ADVICE r8 — the
    uncapped path leaked 1 + rounds persisted frames per invocation)."""
    from lakeflow.ext import dedup as dedup_ops
    from lakeflow.ext import graph as graph_ops

    n_unc = dedup_ops.embedding_near_dups_lsh(
        spark, sf_dir, 0.3, bits=4, bands=29
    ).count()
    n_cap = dedup_ops.embedding_near_dups_lsh(
        spark, sf_dir, 0.3, bits=4, bands=29,
        bucket_cap=graph_ops.GRAPH_BUCKET_CAP,
    ).count()
    assert n_cap <= n_unc

    pr = graph_ops.pagerank_capped(spark, sf_dir).collect()
    assert all(r.pagerank > 0 for r in pr)
    keys = [(-r.pagerank, r.vec_id) for r in pr]
    assert keys == sorted(keys)

    # leak contract (ADVICE r8): of everything kcore persists, only the
    # INTENTIONAL shared pairs cache (one entry per (sf_dir, threshold,
    # params) in the LSH edge generator) may remain cached after the
    # call — the per-call edge union and per-round keep frames must be
    # released. (getPersistentRDDs is the wrong probe: localCheckpoint
    # RDDs linger there until the ContextCleaner GCs them.)
    import pyspark.sql

    tracked = []
    orig_persist = pyspark.sql.DataFrame.persist

    def tracking_persist(self, *a, **kw):
        tracked.append(self)
        return orig_persist(self, *a, **kw)

    pyspark.sql.DataFrame.persist = tracking_persist
    try:
        rows = graph_ops.kcore_capped(spark, sf_dir).collect()
    finally:
        pyspark.sql.DataFrame.persist = orig_persist
    still_cached = [df for df in tracked if df.storageLevel.useMemory]
    assert len(still_cached) <= 1, (
        f"kcore leaked {len(still_cached)} cached frames (expected at "
        "most the shared LSH pairs cache)"
    )
    assert [r.round for r in rows] == list(range(1, graph_ops.KCORE_ROUNDS + 1))
    for a, b in zip(rows, rows[1:]):
        assert b.nodes_kept <= a.nodes_kept
        assert b.edges_kept <= a.edges_kept


def test_pmi_collocations_recompute(spark, sf_dir):
    """Output respects the min-count floor, descending 6dp-PMI order
    with the (w1, w2) tiebreak, and the top row's PMI recomputes from
    raw bigram counts."""
    import math

    from lakeflow.ext import lm as lm_ops

    rows = lm_ops.pmi_collocations(spark, sf_dir).collect()
    assert 0 < len(rows) <= lm_ops.PMI_TOP
    assert all(r.pair_count >= lm_ops.PMI_MIN_COUNT for r in rows)
    keys = [(-r.pmi, r.w1, r.w2) for r in rows]
    assert keys == sorted(keys)
    bg = lm_ops._doc_bigrams(spark, sf_dir)
    n = bg.count()
    top = rows[0]
    c12 = bg.filter((F.col("w1") == top.w1) & (F.col("w2") == top.w2)).count()
    c1 = bg.filter(F.col("w1") == top.w1).count()
    c2 = bg.filter(F.col("w2") == top.w2).count()
    assert c12 == top.pair_count
    assert abs(math.log(c12 * n / (c1 * c2)) - top.pmi) < 1e-5


def test_tokenizer_coverage_curve(spark, sf_dir):
    """Coverage is monotone non-decreasing in vocab size, bounded by
    (0, 1], oov_rate is its complement, and the largest step's coverage
    recomputes from the raw top-V type counts."""
    from lakeflow.ext import lm as lm_ops
    from lakeflow.ext.dedup import normalized_docs, tokenized

    rows = lm_ops.tokenizer_coverage(spark, sf_dir).collect()
    assert [r.vocab_size for r in rows] == list(lm_ops.VOCAB_STEPS)
    covs = [r.coverage for r in rows]
    assert covs == sorted(covs)
    for r in rows:
        assert 0.0 < r.coverage <= 1.0
        assert abs(r.coverage + r.oov_rate - 1.0) < 2e-6
        assert r.covered_tokens <= r.n_tokens
    counts = (
        tokenized(normalized_docs(spark, sf_dir))
        .select(F.explode("tokens").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .count()
        .collect()
    )
    freqs = sorted((r["count"] for r in counts), reverse=True)
    v = min(lm_ops.VOCAB_STEPS[-1], len(freqs))
    assert rows[-1].covered_tokens == sum(freqs[:v])


def test_dhash_perceptual_dedup(spark, sf_dir):
    """The image-dedup contract: (a) the brightness-shifted sibling has
    byte-different payload but IDENTICAL dHash (the case exact dedup
    cannot catch), (b) the banded hamming join finds EXACTLY the
    brute-force pair list at the guaranteed-recall radius (<= 3 flips
    across 4 x 16-bit bands — pigeonhole, not probabilistic), (c)
    unrelated textures dominate the non-pair population."""
    from lakeflow.ext import multimodal as mm

    imgs = mm.synthesize_gradient_docs(spark, sf_dir)
    hashes = mm.dhash_images(imgs).collect()
    by_id = {r.doc_id: r.dhash for r in hashes}
    fams = {}
    for d in by_id:
        fams.setdefault(d // 3, []).append(d)
    checked = 0
    for fam, ids in fams.items():
        base, bright = fam * 3, fam * 3 + 1
        if base in by_id and bright in by_id:
            assert by_id[base] == by_id[bright], (base, bright)
            checked += 1
    assert checked > 10
    # payloads really differ byte-wise for one planted pair
    fam0 = sorted(fams)[0]
    pair = imgs.filter(F.col("doc_id").isin(fam0 * 3, fam0 * 3 + 1)).collect()
    if len(pair) == 2:
        assert bytes(pair[0].payload) != bytes(pair[1].payload)
    # banding finds exactly the brute-force <=3-hamming pair set
    found = {
        (r.doc_a, r.doc_b)
        for r in mm.image_near_dups(mm.dhash_images(imgs)).collect()
    }
    ids = sorted(by_id)
    expected = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((by_id[a] ^ by_id[b]) & ((1 << 64) - 1)).count("1")
        <= mm.IMG_MAX_HAMMING
    }
    assert found == expected
    assert len(expected) < len(ids) * (len(ids) - 1) // 20  # sparse, not all-pairs


def test_image_dedup_collapsed_conserves_pair_mass(spark, sf_dir):
    """The collapsed deployment twin must account for EXACTLY the same
    pair mass as the explicit pair list (sum(pairs) == count(full)),
    with hamming-0 dupes never enumerated (one row per hash group) and
    every cross edge joining two distinct representatives."""
    from lakeflow.ext import multimodal as mm

    full = mm.image_dedup(spark, sf_dir)
    collapsed = mm.image_dedup_collapsed(spark, sf_dir).collect()
    assert sum(r.pairs for r in collapsed) == full.count()
    zero = [r for r in collapsed if r.hamming == 0]
    cross = [r for r in collapsed if r.hamming > 0]
    assert all(r.doc_a == r.doc_b and r.pairs >= 1 for r in zero)
    assert all(r.doc_a < r.doc_b and 1 <= r.hamming <= mm.IMG_MAX_HAMMING for r in cross)
    # the collapse is the whole point: strictly fewer materialized rows
    # than the explicit list whenever any hash group has n >= 2
    if zero:
        assert len(collapsed) < full.count()

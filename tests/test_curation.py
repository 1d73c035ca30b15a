"""End-to-end curation pipeline: leakage-safe splits, including docs
without an embedding."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakeflow.ext import curation


def test_curate_no_leakage_through_split(spark, sf_dir):
    """Kept docs inherit the cluster-keyed split: every kept doc's
    split must equal the split its dedup cluster was assigned."""
    from lakeflow.ext.dedup import cluster_split

    flagged = curation.curated_docs(spark, sf_dir).filter("kept")
    cl = cluster_split(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("split").alias("cl_split")
    )
    joined = flagged.join(cl, "doc_id")
    assert joined.filter(F.col("split") != F.col("cl_split")).count() == 0


def test_embedding_less_docs_get_split(spark, sf_dir, tmp_path):
    """ADVICE r4: at sf1 only 20k of 50k docs carry an embedding row;
    docs without one used to be kept (keep_canonical coalesced True)
    with a NULL split. Build a docs>embeddings fixture by truncating
    the embeddings table and assert EVERY kept doc has a split, and
    that the fallback split is the doc-keyed md5 bucket (stable,
    engine-portable) rather than anything positional."""
    import os

    import pyarrow.parquet as pq

    fix = tmp_path / "sf_fixture"
    fix.mkdir()
    for name in ("documents", "embeddings"):
        src = os.path.join(sf_dir, f"{name}.parquet")
        if name == "embeddings":
            t = pq.read_table(src)
            pq.write_table(t.slice(0, max(1, t.num_rows // 2)), fix / "embeddings.parquet")
        else:
            os.symlink(src, fix / f"{name}.parquet")

    flagged = curation.curated_docs(spark, str(fix))
    kept = flagged.filter("kept").persist()
    assert kept.count() > 0
    assert kept.filter(F.col("split").isNull()).count() == 0
    # fallback split matches the doc-keyed md5 bucket thresholds
    from lakeflow.ext.sampling import _bucket

    emb_ids = {
        r[0]
        for r in spark.read.parquet(str(fix / "embeddings.parquet"))
        .select("vec_id")
        .collect()
    }
    b = _bucket(F.col("doc_id"))
    expect = F.when(b < 204, "train").when(b < 230, "val").otherwise("test")
    orphans = kept.filter(~F.col("doc_id").isin(list(emb_ids)))
    assert orphans.count() > 0, "fixture failed to orphan any kept doc"
    assert orphans.filter(F.col("split") != expect).count() == 0
    kept.unpersist()

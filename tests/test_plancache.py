"""Prepared-plan memo (r11): the registry's queries() surface memoizes
the built DataFrame handle for LAZY-construction queries only, and the
memoized handle returns the same rows as the raw builder."""

from __future__ import annotations

from lakeflow import claims, registry
from lakeflow.plancache import tier


def test_tier_returns_same_handle(spark, sf_dir):
    a = claims.silver_claims(spark, sf_dir)
    b = claims.silver_claims(spark, sf_dir)
    assert a is b


def test_tier_key_isolation(spark):
    d1 = tier(spark, ("k", 1), lambda: object())
    d2 = tier(spark, ("k", 2), lambda: object())
    assert d1 is not d2
    assert tier(spark, ("k", 1), lambda: object()) is d1


def test_lazy_query_memoized_and_correct(spark, sf_dir):
    qmap = registry.queries()
    name = "q_claims_summary"
    assert name in registry.LAZY_BUILD
    wrapped_a = qmap[name](spark, sf_dir)
    wrapped_b = qmap[name](spark, sf_dir)
    assert wrapped_a is wrapped_b  # prepared plan: same handle per session
    raw_fn, _ = registry.ALL_QUERIES[name]
    raw = raw_fn(spark, sf_dir)
    got = sorted(map(tuple, wrapped_a.collect()), key=repr)
    want = sorted(map(tuple, raw.collect()), key=repr)
    assert got == want


def test_eager_query_not_memoized(spark, sf_dir):
    """Queries whose construction runs Spark jobs (iterative loops,
    driver-side collects) must rebuild per call — memoizing them would
    cache results across bench repeats."""
    qmap = registry.queries()
    name = "q_mmr_rerank"
    assert name not in registry.LAZY_BUILD
    a = qmap[name](spark, sf_dir)
    b = qmap[name](spark, sf_dir)
    assert a is not b


def test_stopped_session_store_swept():
    """ADVICE r11: a stopped session's store must be dropped on the next
    memo access (the weakref path could never fire — the memoized
    DataFrames strongly pin their session), so dead-context plans are
    never servable."""

    class _Ctx:
        _jsc = object()

    class _FakeSession:
        def __init__(self):
            self.sparkContext = _Ctx()

    from lakeflow import plancache

    fake = _FakeSession()
    sentinel = object()
    assert plancache.tier(fake, ("x",), lambda: sentinel) is sentinel
    assert id(fake) in plancache._STORES
    fake.sparkContext._jsc = None  # simulate SparkContext.stop()
    other = _FakeSession()
    plancache.tier(other, ("y",), lambda: object())  # any access sweeps
    assert id(fake) not in plancache._STORES
    plancache.clear(other)


def test_every_registered_query_has_an_audit_verdict():
    """lazy_build.json must stay in sync with the registry: every name
    it lists is registered (regenerate with tools/audit_lazy_build.py
    after adding queries)."""
    assert registry.LAZY_BUILD <= set(registry.ALL_QUERIES)


def test_headline_queries_are_memoized():
    """The warm pass leans on the memo: the 18 headline queries ran in
    0.67 s memoized against 5.50 s rebuilt (sf0.01, local[2], medians of
    5 in one warm process). A headline builder that turns eager drops
    out of the memo silently, so this pins it."""
    import bench

    assert set(bench.BENCH_QUERIES) <= registry.LAZY_BUILD


def test_tier_builds_once_under_concurrency(spark):
    """Pool threads reaching one key at once (ann_recall's builds via
    io.read_table) must share a single build, not race to build and
    persist it twice."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    builds = []
    start = threading.Barrier(8, timeout=30)

    def slow_build():
        builds.append(1)
        time.sleep(0.3)
        return object()

    def call(_):
        start.wait()
        return tier(spark, ("concurrent-key",), slow_build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = [f.result(timeout=30) for f in [pool.submit(call, i) for i in range(8)]]
    finally:
        sys.setswitchinterval(interval)
    assert len(builds) == 1
    assert all(g is got[0] for g in got)

"""Model-based property test of the transaction log: hypothesis drives
random operation sequences (append / overwrite / delete / upsert)
against BOTH a TxTable and a trivial in-memory dict
model; after every operation the table must equal the model, and at
the end EVERY historical version must time-travel back to the model's
state at that version — the whole-log invariant no hand-written
scenario test covers.

Runtime discipline: each hypothesis example costs one Spark
write+read per op, so examples and sequence lengths are small; the
value is the SHAPE coverage (op interleavings like
overwrite→delete→upsert), not volume.
"""

from __future__ import annotations


from hypothesis import HealthCheck, given, settings, strategies as st

from lakeflow.txlog import TxTable

# an op is a tuple (kind, arg)
_OPS = st.one_of(
    st.tuples(st.just("append"), st.integers(1, 3)),      # n new rows
    st.tuples(st.just("overwrite"), st.integers(1, 3)),   # n fresh rows
    st.tuples(st.just("delete"), st.integers(0, 2)),      # residue class
    st.tuples(st.just("upsert"), st.integers(1, 3)),      # n rows, half hits
)

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from lakeflow.session import get_session

        _spark = get_session("txlog-prop", master="local[4]", shuffle_partitions=4)
    return _spark


def _df(spark, rows):
    return spark.createDataFrame(rows, "id bigint, val bigint")


def _table_state(spark, t: TxTable, version=None):
    return sorted(
        (r["id"], r["val"]) for r in t.read(spark, version=version).collect()
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=st.lists(_OPS, min_size=1, max_size=5))
def test_txlog_matches_model_and_time_travel(tmp_path_factory, ops):
    spark = _get_spark()
    root = tmp_path_factory.mktemp("txprop")
    t = TxTable(str(root / "t"))

    model: dict[int, int] = {}
    # model state keyed by COMMITTED version: ops that match nothing
    # commit no version at all (copy-on-write rewrites zero files), so
    # a positional history would misalign — key by latest_version()
    vmap: dict[int, dict[int, int]] = {}
    next_id = 0

    def fresh_rows(n):
        nonlocal next_id
        rows = [(next_id + i, (next_id + i) * 7) for i in range(n)]
        next_id += n
        return rows

    # version 0 always exists: seed write
    seed = fresh_rows(2)
    t.write(_df(spark, seed), mode="overwrite")
    model = dict(seed)
    vmap[t.latest_version()] = dict(model)

    for kind, arg in ops:
        if kind == "append":
            rows = fresh_rows(arg)
            t.write(_df(spark, rows), mode="append")
            model.update(dict(rows))
        elif kind == "overwrite":
            rows = fresh_rows(arg)
            t.write(_df(spark, rows), mode="overwrite")
            model = dict(rows)
        elif kind == "delete":
            t.delete_where(spark, f"id % 3 = {arg}")
            model = {i: v for i, v in model.items() if i % 3 != arg}
        elif kind == "upsert":
            hit = list(model)[: max(0, arg - 1)]
            rows = [(i, 555) for i in hit] + fresh_rows(1)
            t.upsert_by_key(spark, _df(spark, rows), ("id",))
            model.update(dict(rows))
        vmap[t.latest_version()] = dict(model)
        assert _table_state(spark, t) == sorted(model.items()), (
            f"state diverged after {kind}({arg})"
        )

    # the whole-history invariant: every recorded version time-travels
    for v, m in sorted(vmap.items()):
        assert _table_state(spark, t, version=v) == sorted(m.items()), (
            f"time travel to v{v} diverged"
        )

    # external-readability invariant (late r8): the CLEAN-ROOM spec
    # reader (tools/delta_reader.py — zero lakeflow imports) must agree
    # with the model at head and at every recorded version, for every
    # random operation sequence — dialect quirks that round-trip only
    # through lakeflow's own reader die here
    from tools import delta_reader

    def ext_state(version=None):
        tbl = delta_reader.read_table(t.path, version)
        if tbl.num_columns == 0:  # all files tombstoned -> empty table
            return []
        ids = tbl.column("id").to_pylist()
        vals = tbl.column("val").to_pylist()
        return sorted(zip(ids, vals))

    for v, m in sorted(vmap.items()):
        assert ext_state(v) == sorted(m.items()), (
            f"clean-room reader diverged at v{v}"
        )

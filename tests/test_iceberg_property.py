"""Model-based property test of the Iceberg metadata layer: hypothesis
drives random operation sequences (append / DYNAMIC PARTITION
overwrite / evolving append / expire_snapshots) against BOTH an
IcebergTable and an in-memory dict model; after every op the table
must equal the model, every LIVE snapshot must time-travel back to the
model's state at that snapshot (under the SNAPSHOT's schema), and the
clean-room spec reader (tools/iceberg_reader.py — independent Avro
decoder, zero lakeflow imports) must agree at head and at every live
snapshot. The mirror of tests/test_txlog_property.py for the Iceberg
dialect, plus a structural pass: the spec validator from
test_iceberg_protocol runs on the final table of every sequence.

The table is PARTITIONED (identity on ``pt = id % 2``) so partition
overwrites exercise real partition routing: overwrite_partitions must
replace exactly the partitions present in the new rows, and carry the
OTHER partitions' files forward through appends, evolution and expiry.

Runtime discipline as in the txlog twin: each example costs one Spark
write+read per op, so examples and sequence lengths stay small — the
value is op-interleaving SHAPE coverage (evolve→pow→expire,
pow→evolve→pow), not volume.
"""

from __future__ import annotations

import os
import sys

from hypothesis import HealthCheck, given, settings, strategies as st

from lakeflow.iceberg import IcebergTable

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
import iceberg_reader  # noqa: E402

from test_iceberg_protocol import validate_iceberg_table  # noqa: E402

# an op is (kind, arg)
_OPS = st.one_of(
    st.tuples(st.just("append"), st.integers(1, 3)),     # n new rows
    st.tuples(st.just("pow"), st.integers(1, 3)),        # dyn part overwrite
    st.tuples(st.just("evolve"), st.integers(1, 2)),     # n rows + new col
    st.tuples(st.just("expire"), st.integers(1, 3)),     # retain_last
)

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from lakeflow.session import get_session

        _spark = get_session(
            "iceprop", master="local[4]", shuffle_partitions=4
        )
    return _spark


def _df(spark, rows, extra_cols=()):
    """rows: list of (id, pt, val [, extras...]) matching the evolving
    schema id/pt/val/e0/e1/..."""
    cols = "id bigint, pt bigint, val bigint" + "".join(
        f", {c} bigint" for c in extra_cols
    )
    return spark.createDataFrame(rows, cols)


def _state(spark, t: IcebergTable, n_cols: int, snapshot_id=None):
    df = t.read(spark, snapshot_id=snapshot_id)
    return sorted(tuple(r) for r in df.collect())


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=st.lists(_OPS, min_size=1, max_size=5))
def test_iceberg_matches_model_time_travel_and_spec(tmp_path_factory, ops):
    spark = _get_spark()
    root = tmp_path_factory.mktemp("iceprop")
    t = IcebergTable(str(root / "t"))

    next_id = 0
    extra_cols: list[str] = []  # evolution-added columns, in order

    def fresh_rows(n):
        nonlocal next_id
        rows = [
            tuple(
                [next_id + i, (next_id + i) % 2, (next_id + i) * 7]
                + [None] * len(extra_cols)
            )
            for i in range(n)
        ]
        next_id += n
        return rows

    t.create(_df(spark, [], ()).schema, partition_by=("pt",))
    # model: dict id -> full row tuple (padded to the current width);
    # smap: live snapshot id -> (model copy, schema width at commit)
    model: dict[int, tuple] = {}
    smap: dict[int, tuple[dict, int]] = {}

    def pad_all(width):
        for k, v in list(model.items()):
            model[k] = tuple(list(v) + [None] * (width - len(v)))

    for kind, arg in ops:
        if kind == "append":
            rows = fresh_rows(arg)
            sid = t.append(_df(spark, rows, extra_cols))
            model.update({r[0]: r for r in rows})
        elif kind == "pow":
            rows = fresh_rows(arg)
            sid = t.overwrite_partitions(_df(spark, rows, extra_cols))
            replaced = {r[1] for r in rows}
            model = {k: v for k, v in model.items() if v[1] not in replaced}
            model.update({r[0]: r for r in rows})
        elif kind == "evolve":
            new_col = f"e{len(extra_cols)}"
            rows = [
                tuple(list(r) + [r[0] * 100]) for r in fresh_rows(arg)
            ]
            sid = t.append(_df(spark, rows, extra_cols + [new_col]))
            extra_cols.append(new_col)
            pad_all(3 + len(extra_cols))
            model.update({r[0]: r for r in rows})
        elif kind == "expire":
            doomed = t.expire_snapshots(retain_last=arg)
            live = {h["snapshot_id"] for h in t.history()}
            smap = {s: m for s, m in smap.items() if s in live}
            for p in doomed:
                assert not os.path.exists(p)
            if model or smap:
                assert _state(spark, t, 3 + len(extra_cols)) == sorted(
                    model.values()
                ), f"state diverged after expire({arg})"
            continue
        smap[sid] = ({k: v for k, v in model.items()}, 3 + len(extra_cols))
        assert _state(spark, t, 3 + len(extra_cols)) == sorted(
            model.values()
        ), f"state diverged after {kind}({arg})"

    # every LIVE snapshot time-travels back to its model state AT ITS
    # OWN WIDTH: reads run under the SNAPSHOT's recorded schema (ADVICE
    # r9 — Iceberg snapshot-schema semantics), so later-added columns
    # must NOT surface on older snapshots
    for sid, (m, w) in smap.items():
        got = _state(spark, t, w, snapshot_id=sid)
        assert got == sorted(m.values()), (
            f"time travel to snapshot {sid} diverged"
        )
        assert all(len(r) == w for r in got), (
            f"snapshot {sid} surfaced post-evolution columns"
        )

    # clean-room reader agreement at head and at every live snapshot
    def ext_state(snapshot_id=None):
        tbl = iceberg_reader.read_table(t.path, snapshot_id=snapshot_id)
        return sorted(tuple(r.values()) for r in tbl.to_pylist())

    assert ext_state() == sorted(model.values())
    for sid, (m, _w) in smap.items():
        assert ext_state(sid) == sorted(m.values()), (
            f"clean-room reader diverged at snapshot {sid}"
        )

    # structural pass: the final on-disk table conforms to the spec
    validate_iceberg_table(t.path)

"""tools/capture_plans.normalise masks every run-specific token of a
plan dump, so two captures of one commit compare byte for byte. Pure
string checks on literal plan snippets; no Spark session."""

from __future__ import annotations

from tools.capture_plans import normalise


def test_normalise_masks_run_specific_tokens():
    a = (
        "*(3) Project [vec_id#12L, transform(embedding#7, lambdafunction("
        "cast(lambda x_146#88 as double), lambda x_146#88, false)) AS v#90]\n"
        "(4) Scan ExistingRDD [codegen id : 3]\n"
        "Arguments: [list_id#5, cv#6], MapPartitionsRDD[390] at localCheckpoint "
        "at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)\n"
        "posexplode(transform(org.apache.spark.sql.catalyst.expressions."
        "UnsafeArrayData@7a50b5f7, lambdafunction(slice(v#9, 1, 8), lambda y_12#3, false)))\n"
        "SubqueryAlias _silver_0123456789abcdef0123456789abcdef, plan_id=41\n"
    )
    b = (
        "*(7) Project [vec_id#31L, transform(embedding#2, lambdafunction("
        "cast(lambda x_145#17 as double), lambda x_145#17, false)) AS v#40]\n"
        "(4) Scan ExistingRDD [codegen id : 7]\n"
        "Arguments: [list_id#8, cv#9], MapPartitionsRDD[371] at wrapped at "
        "/usr/lib/python3/concurrent/futures/thread.py:58, ExistingRDD, "
        "UnknownPartitioning(0)\n"
        "posexplode(transform(org.apache.spark.sql.catalyst.expressions."
        "UnsafeArrayData@1c2d3e4f, lambdafunction(slice(v#1, 1, 8), lambda y_99#4, false)))\n"
        "SubqueryAlias _silver_fedcba9876543210fedcba9876543210, plan_id=77\n"
    )
    assert normalise(a) == normalise(b)
    assert normalise(a) == (
        "*(N) Project [vec_id#NL, transform(embedding#N, lambdafunction("
        "cast(lambda x_N#N as double), lambda x_N#N, false)) AS v#N]\n"
        "(4) Scan ExistingRDD [codegen id : N]\n"
        "Arguments: [list_id#N, cv#N], MapPartitionsRDD[N] at <call site>, "
        "ExistingRDD, UnknownPartitioning(0)\n"
        "posexplode(transform(org.apache.spark.sql.catalyst.expressions."
        "UnsafeArrayData@N, lambdafunction(slice(v#N, 1, 8), lambda y_N#N, false)))\n"
        "SubqueryAlias _silver_view, plan_id=N\n"
    )


def test_normalise_keeps_plan_structure():
    """Operator ids, literals and names that merely contain digits stay."""
    plan = (
        "(12) HashAggregate [keys=[l_returnflag#N], functions=[sum(l_quantity_2)]]\n"
        "Arguments: 128, [id=#N], x_1 AS y_2\n"
    )
    assert normalise(plan) == plan

"""Raw claims as a whole against the DuckDB oracle: every row and column
of claims.claims_raw (the batched selectExpr CASE ladders) must equal
the oracle's claims_raw CTE. Silver is covered the same way by
test_oracle_parity[q_silver_pipeline]."""

from __future__ import annotations

from lakeflow import claims
from tests.oracle_harness import compare, duck_connection


def test_claims_raw_matches_oracle(spark, sf_dir):
    con = duck_connection(sf_dir)
    try:
        compare(
            claims.claims_raw(spark, sf_dir),
            con,
            claims.oracle("SELECT * FROM claims_raw"),
            "claims_raw",
        )
    finally:
        con.close()

"""Result digests and their DuckDB-oracle expectations.

A digest is the md5 of a result set normalized the way the repository's
oracle harness compares results (``tests/oracle_harness.normalize``:
columns ordered by name, floats rounded to 9 places, rows sorted), so a
Spark result and the DuckDB oracle's result digest equal exactly when
the harness would call them equal.

``expected.json`` holds the committed digests of every query op at each
scale under ``testdata/``. The ``etl`` workload's update batch depends on the
benchmark seed, so its expectations are derived here at run time from
the same oracle SQL: the silver claims oracle, the seeded batch applied
with an UPDATE, then the six gold-view oracle bodies.

Regenerate the committed digests (after changing the op list or the
oracle SQL) with:
    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

EXPECTED_PATH = os.path.join(HERE, "expected.json")
TESTDATA = os.path.join(HERE, "testdata")

#: Scales with committed digests: the benchmark's and the self-test's.
SCALES = (0.01, 0.001)


def sf_key(sf: float) -> str:
    return f"sf{sf:g}"


def data_dir(sf: float) -> str:
    """The committed input tables at scale ``sf``."""
    return os.path.join(TESTDATA, sf_key(sf))


def digest(cols: list[str], rows: list[tuple]) -> str:
    from tests.oracle_harness import normalize

    body = json.dumps([sorted(cols), normalize(rows, cols)], default=str)
    return hashlib.md5(body.encode()).hexdigest()


def arrow_digest(table) -> str:
    """Digest of a pyarrow Table (the benchmark's fetched result)."""
    cols = table.column_names
    return digest(cols, list(zip(*(table.column(c).to_pylist() for c in cols))))


def duck_digest(con, sql: str) -> str:
    rel = con.execute(sql)
    return digest([c[0] for c in rel.description], rel.fetchall())


def load_expected(sf: float) -> dict[str, str]:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)[sf_key(sf)]


# --------------------------------------------------------------------------
# etl: the seeded incremental batch, in both dialects
# --------------------------------------------------------------------------

#: The numeric claim key behind a silver claim id ('CLM' + 20 digits).
CLAIM_KEY = "CAST(substring(claim_id, 4) AS BIGINT)"


def batch_predicate(seed: int) -> str:
    """Selects ~1% of silver claims; same text in Spark SQL and DuckDB."""
    return f"({CLAIM_KEY} % 1000003 * 7919 + {seed % 97}) % 97 = 0"


#: The re-priced amount: integer-valued, so sums stay exact in doubles.
REPRICED_AMOUNT = f"claim_amount + CAST({CLAIM_KEY} % 50 + 1 AS DOUBLE)"

#: gold view -> registered query whose oracle SQL defines it
GOLD_ORACLE = {
    "gold_claims_summary": "q_claims_summary",
    "gold_monthly_trend": "q_monthly_trend",
    "gold_provider_performance": "q_provider_performance",
    "gold_quality_dashboard": "q_quality_dashboard",
    "gold_member_activity": "q_member_activity",
    "gold_recent_activity": "q_recent_activity",
}

LIVE_ROWS = "silver_live_rows"


def etl_expected(data_dir: str, seed: int) -> dict[str, str]:
    """Digests of the six gold views and the live silver row count after
    the seeded batch is upserted, from the DuckDB oracle."""
    from lakeflow import claims, registry
    from tests.oracle_harness import duck_connection

    con = duck_connection(data_dir)
    try:
        con.execute(f"CREATE TABLE claims AS {claims.ORACLE_CTE} SELECT * FROM claims")
        con.execute(
            f"UPDATE claims SET claim_amount = {REPRICED_AMOUNT} WHERE {batch_predicate(seed)}"
        )
        sqls = registry.oracle_sql()
        out = {
            view: duck_digest(con, sqls[q][len(claims.ORACLE_CTE):])
            for view, q in GOLD_ORACLE.items()
        }
        (n,) = con.execute("SELECT count(*) FROM claims").fetchone()
        out[LIVE_ROWS] = str(n)
        return out
    finally:
        con.close()


def derive() -> None:
    """Write expected.json: oracle digests of every query op per scale."""
    from lakeflow import registry
    from tests.oracle_harness import duck_connection
    from workloads import QUERY_WORKLOADS

    names = sorted({n for ops in QUERY_WORKLOADS.values() for n in ops})
    sqls = registry.oracle_sql()
    out = {}
    for sf in SCALES:
        con = duck_connection(data_dir(sf))
        out[sf_key(sf)] = {n: duck_digest(con, sqls[n]) for n in names}
        con.close()
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    derive()

"""The oracle form of engagement_pct the warehouse check uses: the
reference's BigDecimal HALF_UP arithmetic, tie cases included."""

from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from warehouse_sql import DOUBLE_PCT, reference_sql

LENGTHS = (1, 7, 8, 16, 80, 400, 800, 2400, 3200, 3599)
# engagement seconds 0..3*L for each length, with sub-second remainders
# that the // 1000 truncation must drop
QUERY = f"""
SELECT e.duration_ms // 1000 AS s, c.length_seconds AS l, {DOUBLE_PCT} AS pct
FROM (SELECT CAST(x * 1000 + x % 1000 AS BIGINT) AS duration_ms
      FROM range(0, 10800) t(x)) e
CROSS JOIN (SELECT unnest({list(LENGTHS)}) AS length_seconds) c
WHERE e.duration_ms // 1000 <= 3 * c.length_seconds
"""


def _reference(s: int, length: int) -> float:
    ratio = (Decimal(s) / Decimal(length)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
    return float((ratio * 100).quantize(Decimal("0.01"), ROUND_HALF_UP))


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


def test_reference_sql_matches_the_reference_on_every_pair(con):
    rows = con.execute(reference_sql(QUERY)).fetchall()
    assert len(rows) > 10_000
    bad = [(s, n, p) for s, n, p in rows if p != _reference(s, n)]
    assert bad == []


def test_double_form_rounds_an_exact_tie_down(con):
    """Why the rewrite exists: 171 / 2400 = 0.07125 exactly, HALF_UP 7.13;
    the double division gives 0.0712499..., 7.12."""
    tie = f"{QUERY} AND e.duration_ms // 1000 = 171 AND c.length_seconds = 2400"
    ((_, _, double_pct),) = con.execute(tie).fetchall()
    ((_, _, exact_pct),) = con.execute(reference_sql(tie)).fetchall()
    assert (double_pct, exact_pct, _reference(171, 2400)) == (7.12, 7.13, 7.13)


def test_reference_sql_leaves_other_sql_alone():
    sql = "SELECT round(x / y, 4) FROM t"
    assert reference_sql(sql) == sql

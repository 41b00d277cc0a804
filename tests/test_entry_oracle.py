"""Driver-style correctness gate, run locally: every queries() entry is
executed on Spark and compared against its oracle_sql() twin in DuckDB with
the one shared comparison (queries.compare) — column names, row count and
order-insensitive values.

Mirrors the external driver's CORRECTNESS check so oracle drift is caught
before a round lands.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from osmquadtree_spark import queries as Q

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# the group-assignment oracles derive their group tables from the parquet at
# oracle-build time — point them at the same sf this test compares against
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_all_queries_have_oracles_or_are_flagged():
    # no gate is flagged rows-only any more: every driver query has an oracle
    assert set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark):
    con = Q.oracle_connection(SF_DIR)
    v = Q.compare(QUERIES[name](spark, SF_DIR), con.sql(ORACLES[name]))
    assert v.status == "EQ", f"{name}: " + "; ".join(v.report)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["group_qt", "n_rows"]

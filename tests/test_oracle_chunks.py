"""Strict oracle parity for every contract query: each query's Spark
result equals its DuckDB oracle_sql() twin under tools/check_oracle.py's
own verdict (row count, column names, values; floats within 1e-9), at
sf0.001. One test id per query; the chunk-table queries keep their own
test name."""

import pytest

import __spark_entry__ as entrymod
from tests.test_checker_sensitivity import checker

CHUNK_QUERIES = (
    "chunks_roundtrip_1h",
    "chunks_windowed_roundtrip_1h",
    "compact_roundtrip_1h",
    "muse_over_chunks_1h",
    "muse_windowed_chunks_1h",
)
OTHER_QUERIES = sorted(set(entrymod.oracle_sql()) - set(CHUNK_QUERIES))

# oracles that are empty at sf0.001, so only row count and columns bind
EMPTY_AT_SF0001 = {
    # no LSH candidate pair of the 15 users' 30 daily series reaches
    # |corr| >= 0.5
    "corr_pairs_lsh_1d",
    # none of the 1,000 events sits more than 2.5 sigma from its
    # (dow, hod) baseline (about 6 events per group)
    "seasonal_anomaly",
}


@pytest.fixture(scope="module")
def oracle(sf_dir):
    m = checker()
    con = m.oracle_con(sf_dir)
    yield m, con
    con.close()


def assert_matches_oracle(spark, sf_dir, oracle, name):
    m, con = oracle
    got = entrymod.queries()[name](spark, sf_dir).toPandas()
    want = con.sql(entrymod.oracle_sql()[name]).df()
    if name not in EMPTY_AT_SF0001:
        assert len(want) > 0
    assert m.verdict(got, want)


@pytest.mark.parametrize("name", CHUNK_QUERIES)
def test_chunk_query_matches_oracle(spark, sf_dir, oracle, name):
    assert_matches_oracle(spark, sf_dir, oracle, name)


@pytest.mark.parametrize("name", OTHER_QUERIES)
def test_query_matches_oracle(spark, sf_dir, oracle, name):
    assert_matches_oracle(spark, sf_dir, oracle, name)

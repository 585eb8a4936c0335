"""Strict oracle parity for the chunk-table contract queries: each
query's Spark result equals its DuckDB oracle_sql() twin under
tools/check_oracle.py's own verdict (row count, column names, values;
floats within 1e-9), at sf0.001."""

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


@pytest.fixture(scope="module")
def oracle(sf_dir):
    m = checker()
    con = m.oracle_con(sf_dir)
    yield m, con
    con.close()


@pytest.mark.parametrize("name", CHUNK_QUERIES)
def test_chunk_query_matches_oracle(spark, sf_dir, oracle, name):
    m, con = oracle
    got = entrymod.queries()[name](spark, sf_dir).toPandas()
    want = con.sql(entrymod.oracle_sql()[name]).df()
    assert len(want) > 0
    assert m.verdict(got, want)

"""The cheap granule-family contract queries against their DuckDB
oracle: each scans granules through the GranuleDataSource (synthetic
decode, or real HDF4 containers in the contiguous, chunked, linked,
RLE and external layouts) and must equal the oracle's replay over the
parquet twin of the same content, value for value after the
canonicalization ``tools/check_correctness.py`` applies.
The szip/nbit archives (s19/s23, seconds per granule to write) and the
two streams (s5/s10) are left to that tool."""

import duckdb
import pytest

import __spark_entry__ as entry
from tools.check_correctness import normalize_pdf

FAMILY = [
    "s2_granule_scan",
    "s9_hdf4_scan",
    "s12_hdf4_chunked_scan",
    "s16_hdf4_linked_scan",
    "s17_hdf4_rle_external_scan",
]


@pytest.mark.parametrize("name", FAMILY)
def test_granule_family_matches_oracle(spark, name):
    # the family reads only its own granule fixtures, never the sf tables
    got = normalize_pdf(entry.queries()[name](spark, "").toPandas())
    con = duckdb.connect()
    try:
        want = normalize_pdf(con.execute(entry.oracle_sql()[name]).df())
    finally:
        con.close()
    assert got[1] == want[1]
    assert len(got[0]) == len(want[0]) > 0
    assert got[0] == want[0]

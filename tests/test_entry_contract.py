"""Replicates the driver's correctness gate locally: every ``queries()``
entry runs on Spark and (when an oracle exists) is compared against the
DuckDB ``oracle_sql()`` result — row count, column names, and
order-insensitive values."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

# Sweep the driver's gate SF (0.01) AND 0.1: boundary-sensitive queries
# (sessionize gap edges, top-k ties) have passed small SFs by luck before
# and only diverged at sf0.1.
SF_DIRS = ("/root/testdata/sf0.01", "/root/testdata/sf0.1")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module", params=SF_DIRS,
                ids=[os.path.basename(d) for d in SF_DIRS])
def sf_duck(request):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{request.param}/{t}.parquet'")
    yield request.param, con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # FULL precision — the driver's gate hashes exact values, so a
        # 6th-decimal divergence that a round(v, 5) would forgive here
        # WOULD fail there.  Queries must emit floats that are already
        # deterministic cross-engine (explicit HALF_UP rounding on both
        # sides, order-insensitive aggregates).
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:19]
    return v


def _rowset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


ALL_QUERIES = sorted(entrymod.queries())


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_query_vs_oracle(spark, sf_duck, name):
    sf_dir, duck = sf_duck
    qfn = entrymod.queries()[name]
    sdf = qfn(spark, sf_dir)
    spark_rows = sdf.collect()
    spark_cols = sdf.columns
    oracles = entrymod.oracle_sql()
    if name not in oracles:
        assert len(spark_rows) >= 0          # rows-only check
        return
    res = duck.sql(oracles[name])
    duck_cols = res.columns
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), \
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), \
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    got = _rowset([tuple(r) for r in spark_rows], spark_cols)
    want = _rowset(duck_rows, duck_cols)
    for g, w in zip(got, want):
        assert g == w, f"{name}: first differing row {g} vs {w}"


# Every synthetic column input the Spark queries read through F.expr —
# the one definition each query and its oracle share.
FIXTURE_SQL = (
    "_SPIKED_SQL", "_MESSY_URL_SQL", "_PSL_URL_SQL", "_SYNTHETIC_HTML_SQL",
    "_SYNTHETIC_PATH_SQL", "_HOST6_SQL", "_HOST97_SQL", "_LINKY_HTML_SQL",
    "_CRAWLED_URL_SQL", "_PII_TEXT_SQL", "_PARA_TEXT_SQL",
    "_ANCHOR_HTML_SQL", "_SITEMAP_XML_SQL", "_SNIFF_HEX_SQL",
    "_V2_DIGEST_SQL", "_SUBSTR_SPIKED_SQL", "_MIX_HOST_SQL",
    "_BLOCKSPIKE_SQL", "_TRAP_URL_SQL", "_SCRIPT_TEXT_SQL",
    "_UNNORM_TEXT_SQL", "_DOC_URL_SQL", "_EDGE_HOST_SQL", "_ANCHOR_HOST_SQL",
    "_DOMAIN7_SQL",
)


@pytest.mark.parametrize("const", FIXTURE_SQL)
def test_fixture_sql_same_on_both_engines(spark, const):
    """A shared fixture expression gives the same value for every
    sf0.01 ``documents`` row in DuckDB and in Spark (``F.expr``) — the
    dialect rules of the ``__spark_entry__`` docstring, checked."""
    from pyspark.sql import functions as F
    sql = getattr(entrymod, const)
    path = f"{SF_DIRS[0]}/documents.parquet"
    con = duckdb.connect()
    try:
        want = dict(con.sql(f"SELECT doc_id, {sql} FROM "
                            f"read_parquet('{path}')").fetchall())
    finally:
        con.close()
    got = dict(spark.read.parquet(path)
               .select("doc_id", F.expr(sql)).collect())
    assert len(got) == 500
    assert got == want


def test_fixture_sql_list_is_complete():
    """FIXTURE_SQL names every constant a driver query reads via F.expr."""
    import inspect
    import re
    used = set(re.findall(r"F\.expr\((_[A-Z0-9_]+_SQL)\)",
                          inspect.getsource(entrymod)))
    assert used == set(FIXTURE_SQL)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert {"backend_used", "success", "n_docs", "total_chars"} <= set(
        df.columns)
    assert sum(r.n_docs for r in rows) == 500

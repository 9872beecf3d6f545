"""Replicates the driver's correctness gate locally: run every
queries() entry on Spark AND its oracle_sql() on DuckDB at sf0.01,
compare row multisets exactly (values, incl. float bit-equality)."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _rows_to_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    oracles = entry_mod.oracle_sql()
    if name not in oracles:
        pytest.skip(f"{name}: no oracle (rows-only check)")
    res = duck.sql(oracles[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}")
    a = _rows_to_multiset(spark_cols, spark_rows)
    b = _rows_to_multiset(duck_cols, duck_rows)
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert "docid" in df.columns and "score" in df.columns


def test_wand_quantized_ranks_on_the_driver(spark, jobs_stages):
    """_wand_quantized ranks its at most factor*k collected rows in
    Python and answers with a local frame: a warm call plus collect
    starts no job beyond those of WandSearcher(si) and one
    search(q, k=3k).collect() (a Spark sort over the local answer
    costs ~3 jobs of its own)."""
    from lucene_solr_spark import driver_surface_ext as ext
    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.wand import WandSearcher

    q = A.OrQ((A.TermQ("scan"), A.TermQ("slow"), A.TermQ("merge")))
    ext._wand_quantized(spark, SF_DIR, q).collect()
    si = ext._seg_index(spark, SF_DIR)
    base = jobs_stages(lambda: WandSearcher(si).search(q, k=30).collect())
    got = jobs_stages(lambda: ext._wand_quantized(spark, SF_DIR, q).collect())
    assert got[0] <= base[0], (got, base)

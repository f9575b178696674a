"""Mini-driver: replicate the correctness gate locally at sf0.001.

For every query with an oracle: run the Spark implementation and the DuckDB
SQL on the same parquet tables; compare row count, column names, and
order-insensitive values — the same contract the external driver checks at
sf0.01.  Rows-only queries are smoke-run for determinism across two runs.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod
from navgraph_osm_spark.sources.tables import DRIVER_TABLES
from scripts.oracle_sweep import TOL, _canon

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


ORACLED = sorted(entry_mod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entry_mod.queries().keys()) - set(ORACLED))


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    got = q(spark, SF_DIR).toPandas()
    want = duck.execute(entry_mod.oracle_sql()[name]).df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} vs {len(want)}"
    floats = {
        c for c in got.columns
        if got[c].dtype.kind == "f" or want[c].dtype.kind == "f"
    }
    g, w = _canon(got, floats), _canon(want, floats)
    for c in g.columns:
        if c in floats:
            gv = g[c].to_numpy()
            wv = w[c].to_numpy()
            for i, (a, b) in enumerate(zip(gv, wv)):
                ok = (math.isnan(a) and math.isnan(b)) or (
                    abs(a - b) <= TOL * max(1, abs(b))
                )
                assert ok, f"{name}.{c}[{i}]: {a} vs {b}"
        else:
            mismatch = (g[c].astype(str) != w[c].astype(str))
            assert not mismatch.any(), (
                f"{name}.{c}: first diff {g[c][mismatch].head(3).tolist()} vs "
                f"{w[c][mismatch].head(3).tolist()}"
            )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_deterministic(spark, name):
    q = entry_mod.queries()[name]
    a = q(spark, SF_DIR)
    n1 = a.count()
    n2 = q(spark, SF_DIR).count()
    assert n1 == n2
    assert n1 >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {"box_id", "n_points", "n_tiles"}

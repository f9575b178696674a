#!/usr/bin/env python3
"""Ad-hoc oracle sweep: run named (or all) oracled queries at a given SF and
compare against the DuckDB oracle the same way the driver does (row count +
column set + order-insensitive values).  Usage:

    python scripts/oracle_sweep.py [--sf-dir DIR] [query ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from navgraph_osm_spark.session import get_spark  # noqa: E402
from navgraph_osm_spark.sources.tables import DRIVER_TABLES  # noqa: E402


TOL = 1e-6  # relative tolerance of the float comparison


def _quantize(v: np.ndarray) -> np.ndarray:
    """Round each value to the power of ten at or above its comparison
    tolerance ``TOL * max(1, |v|)``, so two floats the check accepts as
    equal sort alike; non-finite values pass through."""
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        step = 10.0 ** np.ceil(np.log10(TOL * np.maximum(1.0, np.abs(v))))
        q = np.round(v / step) * step
    return np.where(np.isfinite(v), q, v)


def _canon(df: pd.DataFrame, float_cols: set[str]) -> pd.DataFrame:
    """Columns by name; rows aligned on the non-float columns first (as the
    strings they are compared as), then on the float columns quantized to
    the tolerance — so got and want line up row for row even when a float
    differs between them by less than the tolerance.  ``float_cols`` are the
    columns that are float on either side; they are compared as floats."""
    df = df[sorted(df.columns)].reset_index(drop=True)
    keys = pd.DataFrame(index=df.index)
    for c in df.columns:
        if c not in float_cols:
            keys[c] = df[c].astype(str)
    for i, c in enumerate(sorted(float_cols)):
        df[c] = df[c].astype(float)
        keys[f"~q{i}"] = _quantize(df[c].to_numpy())
    order = keys.sort_values(list(keys.columns), kind="stable").index
    return df.loc[order].reset_index(drop=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    con = duckdb.connect()
    for t in DRIVER_TABLES:
        p = f"{args.sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracles = entry_mod.oracle_sql()
    names = args.names or sorted(oracles)
    spark = get_spark("oracle_sweep", parallelism=32)
    qs = entry_mod.queries()
    failed = []
    for name in names:
        if name not in oracles:
            print(f"{name}: NO ORACLE (skipped)")
            continue
        got = qs[name](spark, args.sf_dir).toPandas()
        want = con.execute(oracles[name]).df()
        status = "ok"
        if sorted(got.columns) != sorted(want.columns):
            status = f"COLS {sorted(got.columns)} vs {sorted(want.columns)}"
        elif len(got) != len(want):
            status = f"ROWS {len(got)} vs {len(want)}"
        else:
            floats = {
                c for c in got.columns
                if got[c].dtype.kind == "f" or want[c].dtype.kind == "f"
            }
            g, w = _canon(got, floats), _canon(want, floats)
            for c in g.columns:
                if status != "ok":
                    break
                if c in floats:
                    gv = g[c].to_numpy()
                    wv = w[c].to_numpy()
                    for a, b in zip(gv, wv):
                        ok = (math.isnan(a) and math.isnan(b)) or abs(
                            a - b
                        ) <= TOL * max(1, abs(b))
                        if not ok:
                            status = f"VAL {c}: {a} vs {b}"
                            break
                else:
                    mism = g[c].astype(str) != w[c].astype(str)
                    if mism.any():
                        status = f"VAL {c}: {g[c][mism].head(2).tolist()} vs {w[c][mism].head(2).tolist()}"
        print(f"{name}: {status} ({len(got)} rows)")
        if status != "ok":
            failed.append(name)
    spark.stop()
    if failed:
        print("FAILED:", failed)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()

"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row count + column names + order-insensitive values.

Usage: python tools/check_parity.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from pdf_parse_bench_spark.session import get_spark  # noqa: E402


import numpy as np  # noqa: E402


def norm_cell(v):
    """Type-strict cell normalization: tag every value with its dtype kind so
    float64 1.0 != int64 1 (the driver's hash distinguishes them; a coercing
    `==` masked the pack_sequences oracle HUGEINT->float64 bug for 2 rounds).
    """
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return ("f", "NaN")
        return ("f", round(float(v), 9))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, bytes):
        return ("y", v)
    return ("s", str(v)) if not isinstance(v, str) else ("s", v)


def to_rows(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = [
        tuple(norm_cell(v) for v in t)
        for t in df_pandas[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return cols, rows


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table of `sf_dir`,
    under the table names the oracle SQL reads."""
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main():
    # default must match the sf the oracle fixture literals are pinned to
    # (ORACLE_FX in __spark_entry__.py == fixtures/sf0.01), or golden-oracle
    # queries spuriously fail.
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("parity", cores=8, shuffle_partitions=16)
    con = oracle_connection(sf_dir)
    qs, os_ = entry.queries(), entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sp = fn(spark, sf_dir).toPandas()
            ora = con.execute(os_[name]).fetchdf()
            c1, r1 = to_rows(sp)
            c2, r2 = to_rows(ora)
            status = []
            if c1 != c2:
                status.append(f"cols {c1} != {c2}")
            if len(r1) != len(r2):
                status.append(f"rows {len(r1)} != {len(r2)}")
            if not status and r1 != r2:
                bad = sum(1 for a, b in zip(r1, r2) if a != b)
                for a, b in zip(r1, r2):
                    if a != b:
                        status.append(f"first diff:\n  spark  {a}\n  oracle {b}")
                        break
                status.append(f"{bad}/{len(r1)} rows differ")
            if status:
                failures.append(name)
                print(f"FAIL {name} ({time.time()-t0:.1f}s): " + "; ".join(status))
            else:
                print(f"ok   {name} ({time.time()-t0:.1f}s, {len(r1)} rows)")
        except Exception as e:
            failures.append(name)
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:300]}")
    print()
    print("FAILURES:", failures if failures else "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

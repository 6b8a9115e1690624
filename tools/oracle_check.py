"""Local replica of the driver's correctness gate: run every query in the
registry on Spark AND its oracle SQL on DuckDB over the same parquet tables,
then compare row-count, schema and order-insensitive values.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from cartography_spark.sources.parquet import TPCH_TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize cell values for order-insensitive compare
    def canon(v):
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (list, tuple)):
            return str([canon(x) for x in v])
        try:
            import numpy as np

            if isinstance(v, np.ndarray):
                return str([canon(x) for x in v.tolist()])
            if isinstance(v, (np.integer,)):
                return repr(int(v))
            if isinstance(v, (np.floating,)):
                return repr(float(v))
        except Exception:
            pass
        return str(v)

    out = df.apply(lambda col: col.map(canon))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    from cartography_spark.plans.registry import REGISTRY, all_queries
    from cartography_spark.session import get_spark

    all_queries()
    spark = get_spark("oracle-check")

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    names = only or list(REGISTRY)
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        spec = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = spec.spark(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            odf = con.sql(spec.oracle).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL  {name}: rowcount spark={len(sdf)} duckdb={len(odf)}")
            n_fail += 1
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"FAIL  {name}: columns spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}")
            n_fail += 1
            continue
        a, b = normalize(sdf), normalize(odf)
        if a.equals(b):
            print(f"PASS  {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            diff_mask = (a != b).any(axis=1)
            print(f"FAIL  {name}: value mismatch on {int(diff_mask.sum())}/{len(a)} rows")
            idx = diff_mask[diff_mask].index[:3]
            for i in idx:
                print(f"      spark : {a.loc[i].to_dict()}")
                print(f"      duckdb: {b.loc[i].to_dict()}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only of {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

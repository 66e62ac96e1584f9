"""Local replica of the driver's correctness gate.

Runs every queries() entry at a given SF, compares row count, column
names, and order-insensitive value multiset against the DuckDB oracle.
Usage: python tools/check_correctness.py [sf_dir] [query ...]
(sf_dir defaults to the repository's copy of the sf0.01 tables).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

from __spark_entry__ import oracle_sql, queries
from distributed_computing_spark.caching import release_tracked
from distributed_computing_spark.session import get_spark

DEFAULT_SF_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)


def main(sf_dir: str, only: set[str]) -> None:
    spark = get_spark(cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, oracles = queries(), oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            release_tracked()  # drop builder-persisted intermediates
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns {sorted(scols)} vs {sorted(ocols)}")
            n_fail += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(orows)}")
            n_fail += 1
            continue
        sm, om = multiset([tuple(r) for r in srows], scols), multiset(orows, ocols)
        if sm != om:
            diff = [(a, b) for a, b in zip(sm, om) if a != b][:3]
            print(f"FAIL {name}: value mismatch, e.g. {diff}")
            n_fail += 1
            continue
        print(f"PASS {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR, set(sys.argv[2:]))

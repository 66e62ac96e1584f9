"""Recompute ``oracle_digests.json`` from the DuckDB oracles.

Run from the repository root after changing the ``floor`` tables or
query mix:

    python3 perfbench/make_digests.py

It runs each query's DuckDB oracle from ``registry.ORACLES`` over the
tables in ``perfbench/data/sf0.01`` and stores the row count and a
digest of the order-insensitive normalized rows, so benchmark runs
check answers without running DuckDB.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

from run import DATA_DIR, DIGESTS, FLOOR_MIX, answer_digest  # noqa: E402

from distributed_computing_spark.registry import ORACLES  # noqa: E402
from distributed_computing_spark.sources.catalog import TABLES  # noqa: E402


def main() -> None:
    out = {"data": os.path.relpath(DATA_DIR, HERE), "queries": {}}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
    for q in FLOOR_MIX:
        cur = con.execute(ORACLES[q])
        cols = [c[0] for c in cur.description]
        rows = cur.fetchall()
        out["queries"][q] = {"rows": len(rows), "sha256": answer_digest(rows, cols)}
        print(f"{q}: {len(rows)} rows")
    con.close()
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()

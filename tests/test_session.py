"""Session factory behaviour that only shows in a fresh process."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from tests.conftest import SF_DIR_MID


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A pandas-UDF query run from an unrelated cwd with PYTHONPATH
    unset: the Python workers still import the package, because
    get_spark puts its directory on their path."""
    import duckdb

    from distributed_computing_spark.registry import ORACLES

    repo = Path(__file__).resolve().parents[1]
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(repo)!r})
        from distributed_computing_spark.registry import QUERIES
        from distributed_computing_spark.session import get_spark

        spark = get_spark(cpus=2, shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        # collect, not count: a count would prune the decode UDF away
        rows = QUERIES["multimodal_jpeg_decode"](spark, {SF_DIR_MID!r}).collect()
        print("ROWS", len(rows))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("ROWS")]
    assert line, out.stderr[-3000:]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR_MID}/documents.parquet'"
    )
    want = len(con.execute(ORACLES["multimodal_jpeg_decode"]).fetchall())
    assert int(line[0].split()[1]) == want

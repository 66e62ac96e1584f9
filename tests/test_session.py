"""Session factory behaviour, most of it only visible in a fresh
process, and the Python worker daemon it selects."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import time
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest

from tests.conftest import SF_DIR_MID

DAEMON = "distributed_computing_spark.pyworker"
REPO = Path(__file__).resolve().parents[1]


def _daemon_module_of_workers(spark) -> set[str]:
    """The module that defines ``zipimporter.invalidate_caches`` in each
    Python worker the query runs on."""

    def probe(batches):
        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    return {r.m for r in spark.range(4, numPartitions=2).mapInPandas(probe, "m string").collect()}


def _run_fresh(script: str, cwd, env=None) -> subprocess.CompletedProcess:
    """Run ``script`` in a fresh interpreter with PYTHONPATH unset."""
    env = {k: v for k, v in (env or os.environ).items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=600,
    )


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(name, body)


def test_daemon_rereads_a_zip_only_when_it_changes(tmp_path, monkeypatch):
    """Under the daemon's patch, ``importlib.invalidate_caches()`` (which
    pyspark calls before every task) re-reads an archive only after it
    was rewritten, and a module added by the rewrite imports."""
    # restored after the test: importing the module installs the patch
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    importlib.import_module(DAEMON)
    archive = tmp_path / "probe.zip"
    _write_zip(archive, {"dc_zip_probe/__init__.py": "", "dc_zip_probe/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("dc_zip_probe", "dc_zip_probe.a", "dc_zip_probe.b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("dc_zip_probe.a").X == 1
    # one importer for the sys.path entry, one for the package's __path__
    importers = [
        v for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter) and v.archive == str(archive)
    ]
    assert len(importers) == 2

    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # an importer's first call reads once
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_zip(archive, {
        "dc_zip_probe/__init__.py": "", "dc_zip_probe/a.py": "X = 1\n",
        "dc_zip_probe/b.py": "Y = 2\n",
    })
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(str(archive)) == len(importers)  # once each
    assert importlib.import_module("dc_zip_probe.b").Y == 2


def test_workers_run_under_the_daemon(spark):
    assert _daemon_module_of_workers(spark) == {DAEMON}


@pytest.mark.slow
def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A pandas-UDF query run from an unrelated cwd with PYTHONPATH
    unset: the Python workers, and the daemon they fork from, still
    import the package, because get_spark puts its directory on their
    path."""
    import duckdb

    from distributed_computing_spark.registry import ORACLES

    out = _run_fresh(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from distributed_computing_spark.registry import QUERIES
        from distributed_computing_spark.session import get_spark
        from tests.test_session import _daemon_module_of_workers

        spark = get_spark(cpus=2, shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        # collect, not count: a count would prune the decode UDF away
        rows = QUERIES["multimodal_jpeg_decode"](spark, {SF_DIR_MID!r}).collect()
        print("ROWS", len(rows))
        print("DAEMON", *sorted(_daemon_module_of_workers(spark)))
        spark.stop()
    """, cwd=tmp_path)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("ROWS")]
    assert line, out.stderr[-3000:]
    assert f"DAEMON {DAEMON}" in out.stdout.splitlines(), out.stderr[-3000:]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR_MID}/documents.parquet'"
    )
    want = len(con.execute(ORACLES["multimodal_jpeg_decode"]).fetchall())
    assert int(line[0].split()[1]) == want


def _daemon_pids(marker: str) -> list[int]:
    """Live processes running the daemon module whose environment
    carries ``marker`` (forked workers inherit both)."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmdline = f.read()
            with open(f"/proc/{pid}/environ", "rb") as f:
                environ = f.read().split(b"\0")
        except OSError:  # ended meanwhile, or not ours to read
            continue
        if DAEMON.encode() in cmdline and marker.encode() in environ:
            pids.append(int(pid))
    return pids


@pytest.mark.slow
def test_no_daemon_outlives_the_session(tmp_path):
    """Stopping Spark and the gateway the way perfbench does leaves no
    daemon or worker process behind."""
    marker = f"DC_DAEMON_PROBE={tmp_path}"
    out = _run_fresh(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from distributed_computing_spark.session import get_spark
        from tests.test_session import _daemon_module_of_workers, _daemon_pids

        spark = get_spark(cpus=2, shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        print("DAEMON", *sorted(_daemon_module_of_workers(spark)))
        print("LIVE", len(_daemon_pids({marker!r})))
        proc = spark.sparkContext._gateway.proc
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    """, cwd=tmp_path, env={**os.environ, "DC_DAEMON_PROBE": str(tmp_path)})
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert f"DAEMON {DAEMON}" in lines, out.stderr[-3000:]
    # the daemon and at least one worker were seen while the session ran
    assert int(next(ln for ln in lines if ln.startswith("LIVE")).split()[1]) >= 2
    deadline = time.monotonic() + 30
    while _daemon_pids(marker) and time.monotonic() < deadline:
        time.sleep(0.5)
    assert _daemon_pids(marker) == []

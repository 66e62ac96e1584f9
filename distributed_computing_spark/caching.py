"""Session-lifetime persist tracking (round-4 ADVICE fix).

Lazy query builders (``minhash_lsh_exact``, ``simhash_exact``,
``corpus_pipeline_q``) persist an intermediate that several downstream
consumers share. The builder cannot unpersist it — the returned
DataFrame still references the cached plan and the caller's terminal
action hasn't run yet — so without bookkeeping, repeated gate/bench
invocations accumulate cached blocks for the session lifetime.

``track_persist`` registers every such intermediate; harnesses call
``release_tracked()`` after each query's terminal action (the same
discipline ``neardup_clusters`` applies inline, generalized to the
lazy-builder case). tools/check_correctness.py, bench.py and the test
session teardown all release. ``_TRACKED`` is a process-global, which
fits the repo's single-threaded harnesses: under concurrent requests
one ``release_tracked()`` would unpersist another's in-flight
intermediate.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def session_tmpdir(prefix: str) -> str:
    """``mkdtemp`` that is removed at interpreter exit (ADVICE r10:
    every gate/bench invocation of a scratch-dir query leaked one
    parquet/checkpoint directory in /tmp — the repo already tracks
    /tmp hygiene for big runs). The directory must outlive the
    RETURNED DataFrame's lazy reads, so cleanup is process-exit, not
    eager."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def track_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """Persist ``df`` and register it for later release."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _TRACKED.append(df)
    return df


def release_tracked() -> None:
    """Unpersist every tracked intermediate (idempotent, error-tolerant —
    the owning session may already be stopped at teardown time)."""
    for df in _TRACKED:
        try:
            df.unpersist()
        except Exception:
            pass
    _TRACKED.clear()

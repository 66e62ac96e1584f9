"""The runnable examples, run as a user would: a fresh process from an
unrelated working directory."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


@pytest.mark.slow
def test_kv_log_example_stream_matches_batch_and_leaves_no_temp_dirs(tmp_path):
    """examples/kv_log.py prints the batch replay's final state and the
    streaming apply's; they must be the same table, and the example's
    scratch directories must be gone from its TMPDIR when it exits."""
    tmpdir, cwd = tmp_path / "tmp", tmp_path / "elsewhere"
    tmpdir.mkdir()
    cwd.mkdir()
    out = subprocess.run(
        [sys.executable, str(ROOT / "examples" / "kv_log.py")],
        cwd=cwd,
        env={**os.environ, "TMPDIR": str(tmpdir)},
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout

    def table(heading: str) -> str:
        # DataFrame.show() ends its table with a blank line
        return out.split(heading + "\n", 1)[1].split("\n\n", 1)[0]

    batch = table("final state (batch replay):")
    assert "reset;c=3;" in batch and "started;ready;" in batch
    assert table("final state (streaming foreachBatch apply):") == batch
    assert not list(tmpdir.glob("kv_example_*"))

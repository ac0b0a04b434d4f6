"""Command-line tools under tools/ (Spark-free)."""
from __future__ import annotations

import os
import subprocess
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")


def _run_tool(name, *args, tmp_path):
    # a tool that ignores its arguments starts its default build: make that
    # build tiny and write it under tmp_path, so a failure costs seconds
    env = dict(
        os.environ, SCALING_REPOS="2", PLM_EDGES=str(tmp_path / "e.parquet")
    )
    return subprocess.run(
        [sys.executable, os.path.join(TOOLS, name), *args],
        capture_output=True, text=True, timeout=60, env=env,
    )


def test_louvain_scaling_parses_arguments_first(tmp_path):
    """``--help`` prints usage, the environment it reads and exits 0, and
    an unknown argument exits 2; neither builds a graph."""
    out = _run_tool("louvain_scaling.py", "--help", tmp_path=tmp_path)
    assert out.returncode == 0, out.stderr
    assert out.stdout.startswith("usage:")
    assert "SCALING_REPOS" in out.stdout and "SCALING_ENGINE" in out.stdout
    out = _run_tool("louvain_scaling.py", "--bogus", tmp_path=tmp_path)
    assert out.returncode == 2
    assert "unrecognized arguments: --bogus" in out.stderr
    assert os.listdir(tmp_path) == []

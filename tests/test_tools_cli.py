"""Every script under tools/ answers ``--help`` from any working directory.

Each tool puts the repo root on ``sys.path`` from its own location, so it
runs from outside the checkout too, and parses its arguments before it
builds a session. ``SPARK_HOME`` points at a missing directory, so a tool
that starts Spark before answering ``--help`` fails here instead of
launching a JVM.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


@pytest.mark.parametrize("tool", TOOLS, ids=lambda p: p.name)
def test_tool_help_runs_outside_checkout(tool, tmp_path):
    env = dict(os.environ, SPARK_HOME=str(tmp_path / "no-spark"))
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, str(tool), "--help"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert "usage:" in proc.stdout

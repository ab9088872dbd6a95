"""Every script under tools/, and the import CLI, answers ``--help`` from
any working directory.

Each tool puts the repo root on ``sys.path`` from its own location, so it
runs from outside the checkout too, and parses its arguments before it
builds a session. ``SPARK_HOME`` points at a missing directory, so a tool
that starts Spark before answering ``--help`` fails here instead of
launching a JVM.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = sorted((ROOT / "tools").glob("*.py"))


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


def test_import_cli_help_lists_its_options(tmp_path):
    env = dict(os.environ, SPARK_HOME=str(tmp_path / "no-spark"), PYTHONPATH=str(ROOT))
    proc = subprocess.run(
        [sys.executable, "-m", "wikipedia_org_xmldump_importer_spark", "--help"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    options = proc.stdout.split("options:", 1)[1]
    assert re.findall(r"^\s+(--[\w-]+)", options, re.MULTILINE) == [
        "--xml",
        "--out",
        "--namespace",
        "--jdbc-url",
        "--master",
        "--shard-mb",
    ]

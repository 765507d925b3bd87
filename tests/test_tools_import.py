"""Every tools/*.py script imports cleanly. The probes import private
engine helpers, so a helper that is moved or renamed breaks a probe at
import time, and no other test would notice. Each script is imported
in its own interpreter (its sys.path edits stay there) and writes no
bytecode into the checkout."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))
_IMPORT = (
    "import importlib.util, sys; "
    "spec = importlib.util.spec_from_file_location('tool', sys.argv[1]); "
    "spec.loader.exec_module(importlib.util.module_from_spec(spec))"
)


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports(path):
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT, path],
        cwd=ROOT,
        env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]

"""Every script under tools/ still imports: a renamed or deleted library
name breaks a tool at import, long before anyone runs it. Importing must
also stay side-effect free — no tool starts Spark at import time."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a fresh interpreter, so a tool's module-level work (sys.path edits, a
# session it might start) cannot leak into the suite; it gets arguments,
# as the suite's own process does, so a tool that parses them at import
# fails here
_IMPORT_ALL = """
import glob, importlib.util, os
from pyspark import SparkContext
paths = sorted(glob.glob(os.path.join(os.environ["TOOLS_ROOT"], "tools", "*.py")))
assert paths
for path in paths:
    name = "tool_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert SparkContext._active_spark_context is None, path
"""


def test_tools_import_without_starting_spark():
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL, "tests/"],
        env=dict(os.environ, TOOLS_ROOT=ROOT),
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]

"""The measurement tools under tools/: each imports without side effects,
and the A/B pair summary of tools/measure.py gives the right figures on
fixed numbers."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")

# Runs in a fresh interpreter, so no session of the test run can hide
# one the import starts.
_IMPORT_CHECK = """
import importlib.util
import sys


class NoArgv(list):
    def _refuse(self, *a, **kw):
        raise AssertionError("sys.argv read at import")

    __getitem__ = __len__ = __iter__ = __contains__ = _refuse


sys.argv = NoArgv()
spec = importlib.util.spec_from_file_location("tool_under_test", {path!r})
spec.loader.exec_module(importlib.util.module_from_spec(spec))

from pyspark import SparkContext

assert SparkContext._gateway is None, "a JVM was started at import"
assert SparkContext._active_spark_context is None, "a session was started"
"""


@pytest.mark.parametrize(
    "name", sorted(f for f in os.listdir(TOOLS) if f.endswith(".py"))
)
def test_tool_imports_without_side_effects(name):
    code = _IMPORT_CHECK.format(path=os.path.join(TOOLS, name))
    r = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]


def _measure():
    spec = importlib.util.spec_from_file_location(
        "measure", os.path.join(TOOLS, "measure.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_measure_reads_no_environment():
    with open(os.path.join(TOOLS, "measure.py")) as f:
        src = f.read()
    assert "environ" not in src and "getenv" not in src


def test_pair_summary_lower_is_better():
    # setup_s: pair 1 is a tie, pair 3 goes to the parent
    parent = [10.0, 12.0, 11.0, 13.0, 9.0]
    change = [9.0, 12.0, 10.0, 14.0, 8.0]
    s = _measure().pair_summary(parent, change, "lower")
    assert s["parent"] == {"median": 11.0, "q1": 10.0, "q3": 12.0}
    assert s["change"] == {"median": 10.0, "q1": 9.0, "q3": 12.0}
    assert s["delta_pct"] == pytest.approx(-100 / 11)
    assert s["change_won"] == 3 and s["pairs"] == 5


def test_pair_summary_higher_is_better():
    # rows_per_cpu_s: pair 1 is a tie, pair 2 goes to the parent;
    # quartiles interpolate between the four runs of each side
    parent = [100.0, 120.0, 110.0, 130.0]
    change = [105.0, 120.0, 100.0, 140.0]
    s = _measure().pair_summary(parent, change, "higher")
    assert s["parent"] == {"median": 115.0, "q1": 107.5, "q3": 122.5}
    assert s["change"] == {"median": 112.5, "q1": 103.75, "q3": 125.0}
    assert s["delta_pct"] == pytest.approx(-250 / 115)
    assert s["change_won"] == 2 and s["pairs"] == 4

"""The kept measurement tools must not rot silently: every name
``tools/trace_profile.py`` wraps resolves against its module, and every
tool compiles. Spark-free."""

from __future__ import annotations

import glob
import os
import py_compile
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

import trace_profile  # noqa: E402


@pytest.mark.parametrize(
    "mod_name,attr", [(m, a) for m, attrs in trace_profile.WRAPPED.items() for a in attrs]
)
def test_trace_profile_wrapped_name_resolves(mod_name, attr):
    assert callable(trace_profile.resolve(mod_name, attr)[2])


def test_trace_profile_unknown_name_raises():
    with pytest.raises(AttributeError):
        trace_profile.resolve("operators.merge", "merge_upsert")


@pytest.mark.parametrize("path", sorted(glob.glob(os.path.join(TOOLS, "*.py"))), ids=os.path.basename)
def test_tool_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)

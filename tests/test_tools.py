"""The kept measurement tools must not rot silently: every name
``tools/trace_profile.py`` wraps resolves against its module, and every
tool compiles. The package keeps each snapshot-read fact in
``sinks/snapshots.py`` (a source check). Spark-free."""

from __future__ import annotations

import glob
import os
import py_compile
import sys

import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
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


# deletion-vector masking, path-segment parsing and the bucket-dir test
# live in sinks/snapshots.py (_read_physical, _partition_dirs); a copy
# elsewhere drifts from them
_SNAPSHOT_FACT_COPIES = {
    "calls _apply_dv": re.compile(r"\b_apply_dv\b"),
    "splits a path on os.sep": re.compile(r"split\(\s*os\.sep\s*\)"),
    "tests BUCKET_COL= as a substring": re.compile(r"BUCKET_COL\}=[\"']\s*in\b"),
}


def test_snapshot_facts_derived_in_one_place():
    pkg = os.path.join(ROOT, "stellar_etl_airflow_spark")
    owner = os.path.join(pkg, "sinks", "snapshots.py")
    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        if path == owner:
            continue
        with open(path) as fh:
            for n, line in enumerate(fh, 1):
                found += [
                    f"{os.path.relpath(path, ROOT)}:{n} {what}"
                    for what, pat in _SNAPSHOT_FACT_COPIES.items()
                    if pat.search(line)
                ]
    assert found == []

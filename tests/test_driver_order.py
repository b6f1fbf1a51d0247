"""The driver walks ``__spark_entry__.queries()`` in dict order and checks
a prefix per round, so the order is derived from the recorded
``CORRECTNESS_r*.json`` rounds: never-green entries first, then the
stalest green ones. Spark-free."""

from __future__ import annotations

import json

import __spark_entry__ as E
from stellar_etl_airflow_spark.queries import QUERIES

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED = {"rows_match": False, "schema_match": True, "hash_match": False, "err": None}


def _round(d, n, rows):
    (d / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))


def test_never_green_first_then_oldest_green_round(tmp_path):
    _round(tmp_path, 1, {"a": GREEN, "b": GREEN, "c": RED})
    _round(tmp_path, 2, {"b": GREEN, "c": RED, "d": {**GREEN, "err": "Traceback"}})
    names = ["b", "a", "d", "c", "e"]
    # c is red every round, d errored, e was never checked: all never green
    assert E.stalest_first(names, str(tmp_path)) == ["c", "d", "e", "a", "b"]


def test_red_row_does_not_refresh_an_older_green(tmp_path):
    _round(tmp_path, 1, {"x": GREEN, "y": GREEN})
    _round(tmp_path, 3, {"x": RED, "y": GREEN})
    assert E.stalest_first(["y", "x"], str(tmp_path)) == ["x", "y"]


def test_ties_break_by_name(tmp_path):
    _round(tmp_path, 5, {"q2": GREEN, "q1": GREEN, "q3": GREEN})
    assert E.stalest_first(["q3", "q2", "q1"], str(tmp_path)) == ["q1", "q2", "q3"]


def test_no_artifacts_keeps_registration_order(tmp_path):
    assert E.stalest_first(["z", "a", "m"], str(tmp_path)) == ["z", "a", "m"]


def test_queries_covers_the_corpus():
    assert set(E.queries()) == set(QUERIES)
    assert len(E.queries()) == len(QUERIES)

"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose the oracle-checked corpus from
``stellar_etl_airflow_spark.queries`` (one entry per implemented operator
family from SURVEY.md §2). ``queries()`` lists the stalest entries
first (:func:`stalest_first`), since the driver checks only a prefix.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from stellar_etl_airflow_spark.queries import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing summary aggregate) on /root/testdata/sf0.001."""
    return QUERIES["q01_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


_GREEN = ("rows_match", "schema_match", "hash_match")


def stalest_first(names: Iterable[str], art_dir: str = _HERE) -> list[str]:
    """Order ``names`` for a driver that checks only a prefix per round:
    entries never green in any ``CORRECTNESS_r*.json`` first, then by
    latest green round, oldest first; ties by name. A row is green when
    rows, schema and hash all match and ``err`` is empty. With no
    artifacts the order is ``names``' own."""
    rounds = [
        (int(m.group(1)), path)
        for path in glob.glob(os.path.join(art_dir, "CORRECTNESS_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", path))
    ]
    if not rounds:
        return list(names)
    last_green: dict[str, int] = {}
    for rnd, path in rounds:
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if all(row.get(k) is True for k in _GREEN) and not row.get("err"):
                    last_green[name] = max(rnd, last_green.get(name, 0))
    return sorted(names, key=lambda n: (n in last_green, last_green.get(n, 0), n))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name].fn for name in stalest_first(QUERIES)}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}

"""Per-file bloom filters: one definition for every write path.

A manifest bloom entry is ``{"m", "k", "b64"}``: m sized from the file's
row count (``_bloom_m_for``), the bits of every non-null value set at
``_bloom_positions`` — the same positions ``bloom_contains`` probes.
These tests build the expected bitsets straight from ``_bloom_positions``
and hold ``compute_blooms`` (the build behind ``Txn.add(spark=...)``) and
the snapshot Data Source writer to them.
"""

from __future__ import annotations

import base64
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stellar_etl_airflow_spark.sinks import snapshots as S

COLS = ["s", "l", "i", "b"]


def _expected(path: str, cols) -> dict:
    """{col: entry} built directly from ``_bloom_positions``; a column
    the file lacks or holds only nulls in gets no entry."""
    table = pq.read_table(path)
    m = S._bloom_m_for(table.num_rows)
    out = {}
    for c in cols:
        if c not in table.column_names:
            continue
        vals = [v for v in table.column(c).to_pylist() if v is not None]
        if not vals:
            continue
        bits = bytearray(m // 8)
        for v in vals:
            for p in S._bloom_positions(v, m, S._BLOOM_K):
                bits[p // 8] |= 1 << (p % 8)
        out[c] = {"m": m, "k": S._BLOOM_K, "b64": base64.b64encode(bytes(bits)).decode()}
    return out


def _rows(n: int, offset: int = 0) -> dict:
    return {
        "s": [f"key-{offset + x}" for x in range(n)],
        "l": [-(offset + x) * 1_000_003 for x in range(n)],
        "i": pa.array([None if x % 3 == 0 else offset + x for x in range(n)], pa.int32()),
        "b": [x % 2 == 0 for x in range(n)],
    }


@pytest.fixture()
def files(tmp_path):
    d = tmp_path / "f"
    d.mkdir()
    out = []
    for i in range(4):
        cols = _rows(300 + 50 * i, offset=1000 * i)
        if i == 1:
            cols["i"] = pa.nulls(len(cols["s"]), pa.int32())  # all-null here
        if i == 2:
            del cols["b"]  # column missing from this file
        f = str(d / f"part-{i}.parquet")
        pq.write_table(pa.table(cols), f)
        out.append(f)
    return out


def test_compute_blooms_equals_positions_definition(spark, files):
    got = S.compute_blooms(spark, files, COLS)
    assert set(got) == set(files)
    for f in files:
        assert got[f] == _expected(f, COLS), f
    # every supported type is covered, and the two gaps have no entry
    assert set(got[files[0]]) == set(COLS)
    assert "i" not in got[files[1]]
    assert "b" not in got[files[2]]
    # the probe side agrees: every recorded value may match
    t = pq.read_table(files[0]).to_pylist()
    assert all(S.bloom_contains(got[files[0]][c], r[c]) for r in t for c in COLS if r[c] is not None)


def test_compute_blooms_relative_paths_keep_caller_strings(spark, files):
    rel = [os.path.relpath(f, os.getcwd()) for f in files]
    got = S.compute_blooms(spark, rel, COLS)
    assert set(got) == set(rel)
    for r, f in zip(rel, files):
        assert got[r] == _expected(f, COLS)


def test_compute_blooms_empty_and_unreadable(spark, tmp_path, files):
    assert S.compute_blooms(spark, [], COLS) == {}
    bad = str(tmp_path / "bad.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        S.compute_blooms(spark, [files[0], bad], COLS)


def test_library_and_data_source_writers_record_the_same_bloom(spark, tmp_path):
    """The same rows written as one file through overwrite_versioned
    (compute_blooms) and through the snapshot Data Source writer (packed
    in the write task) record the same bitsets."""
    from stellar_etl_airflow_spark.sources import snapshot_source

    snapshot_source.register(spark)
    cols = _rows(500)
    rows = list(zip(cols["s"], cols["l"], cols["i"].to_pylist(), cols["b"]))
    df = spark.createDataFrame(rows, "s string, l long, i int, b boolean").coalesce(1)
    lib, ds = str(tmp_path / "lib"), str(tmp_path / "ds")
    S.overwrite_versioned(spark, df, lib, bloom_cols=COLS)
    (df.write.format(snapshot_source.FORMAT_NAME).option("path", ds)
     .option("bloom_cols", ",".join(COLS)).mode("overwrite").save())
    ml, md = S.read_manifest(lib), S.read_manifest(ds)
    assert len(ml["files"]) == len(md["files"]) == 1
    bl, bd = ml["blooms"][ml["files"][0]], md["blooms"][md["files"][0]]
    assert set(bl) == set(bd) == set(COLS)
    for c in COLS:
        assert bl[c] == bd[c], c
    assert bl == _expected(ml["files"][0], COLS)

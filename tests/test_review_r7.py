"""Regression tests for the round-7 self-review findings: manifest
stats under-coverage, codec probe crash/duration edges, the as-of
deterministic salt vs map-typed columns, and frameless-FLAC decode."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from stellar_etl_airflow_spark.operators.asof import asof_join
from stellar_etl_airflow_spark.sinks import snapshots as S
from stellar_etl_airflow_spark.training import codecs
from stellar_etl_airflow_spark.training.flac import flac_decode


class _FakeStats:
    def __init__(self, mn, mx):
        self.has_min_max = mn is not None
        self.min, self.max = mn, mx


class _FakeCol:
    def __init__(self, name, stats):
        self.path_in_schema = name
        self.statistics = stats


class _FakeRG:
    def __init__(self, cols):
        self._cols = cols
        self.num_columns = len(cols)

    def column(self, i):
        return self._cols[i]


class _FakeMeta:
    def __init__(self, rgs):
        self._rgs = rgs
        self.num_row_groups = len(rgs)

    def row_group(self, i):
        return self._rgs[i]


def _patch_metadata(monkeypatch, meta):
    import pyarrow.parquet as pq

    class _FakePF:
        def __init__(self, _path):
            self.metadata = meta

    monkeypatch.setattr(pq, "ParquetFile", _FakePF)


def test_file_stats_statless_row_group_poisons_column(monkeypatch):
    """A row group with absent statistics must disqualify the column for
    the whole file — otherwise the recorded [min,max] under-covers the
    file and manifest pruning drops rows that exist."""
    meta = _FakeMeta(
        [
            _FakeRG([_FakeCol("k", _FakeStats(0, 10)), _FakeCol("g", _FakeStats(1, 2))]),
            _FakeRG([_FakeCol("k", None), _FakeCol("g", _FakeStats(3, 4))]),
        ]
    )
    _patch_metadata(monkeypatch, meta)
    st = S._file_stats("ignored", ["k", "g"])
    assert st == {"g": [1, 4]}  # k poisoned, g aggregated across groups

    # has_min_max=False poisons the same way, even when the bad group
    # comes FIRST (order-independent)
    meta2 = _FakeMeta(
        [
            _FakeRG([_FakeCol("k", _FakeStats(None, None))]),
            _FakeRG([_FakeCol("k", _FakeStats(0, 10))]),
        ]
    )
    _patch_metadata(monkeypatch, meta2)
    assert S._file_stats("ignored", ["k"]) is None


def test_ogg_truncated_id_header_returns_none():
    # 20-entry segment table pushes the packet body to offset 47, so the
    # id-header slice holds only 11 bytes of a 58-byte payload: the
    # '\x01vorbis' magic matches but channels/rate bytes are missing.
    page = b"OggS" + b"\x00" * 22 + bytes([20]) + bytes(20) + b"\x01vorbis" + b"\x00" * 4
    assert len(page) == 58
    assert codecs.ogg_vorbis_info(page) is None
    assert codecs.audio_probe(page) is None


def test_mp3_xing_without_frames_field_not_counted_as_audio():
    from tests.test_codecs import _mp3_frame

    blob = b"".join(_mp3_frame() for _ in range(10))
    side = 32  # MPEG1 stereo side-info bytes
    # Xing tag present but FRAMES flag (bit 0) unset — still a metadata
    # frame; its 1152 samples must not inflate the walked duration
    body = b"\x00" * side + b"Xing" + (0).to_bytes(4, "big")
    first = _mp3_frame(body=body.ljust(144 * 128 * 1000 // 44100 - 4, b"\x00"))
    assert codecs.mp3_info(first + blob) == (44100, 2, round(10 * 1152 * 1000 / 44100))
    # a stream that is ONLY a tag frame has no audio
    assert codecs.mp3_info(first) is None


def test_flac_frameless_zero_rate_returns_none():
    # STREAMINFO with rate=0 and zero frames: decode must return None,
    # not NameError past the ValueError/IndexError containment
    payload = b"fLaC" + bytes([0x80, 0, 0, 34]) + b"\x00" * 34
    assert flac_decode(payload) is None


def test_asof_hot_key_salt_with_map_column(spark):
    """A map-typed left column (unhashable and unorderable in Spark) passes
    through asof_join untouched: the union window only partitions and
    sorts on the key and ts, on one hot key as on any other."""
    n = 400
    left = (
        spark.range(n)
        .select(
            F.lit("hot").alias("key"),
            (F.lit(datetime(2024, 1, 1)) + F.make_interval(mins=F.col("id"))).alias("ts"),
            F.col("id").alias("row_id"),
            F.create_map(F.lit("a"), F.col("id").cast("string")).alias("attrs"),
        )
    )
    right = spark.createDataFrame(
        [("hot", datetime(2024, 1, 1), 1.0), ("hot", datetime(2024, 1, 1, 3), 2.0)],
        "key string, ts timestamp, price double",
    )
    got = {
        r["row_id"]: (r["price"], r["attrs"])
        for r in asof_join(left, right, on="key", value_cols=["price"]).collect()
    }
    assert len(got) == n
    assert all(p == (1.0 if i < 180 else 2.0) and a == {"a": str(i)} for i, (p, a) in got.items())

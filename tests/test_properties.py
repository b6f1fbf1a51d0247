"""Property-based tests (hypothesis): MERGE semantics, SCD-2 lifecycle,
MinHash-LSH guarantees, backfill chunking — checked against independent
Python models on randomized inputs."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from stellar_etl_airflow_spark.operators import batch as B
from stellar_etl_airflow_spark.operators import merge as MG
from stellar_etl_airflow_spark.training import dedup as D

from . import fixtures as FX

SLOW = settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))

change_row = st.tuples(
    st.sampled_from(["A", "B", "C", "D"]),  # key
    st.floats(min_value=0, max_value=100, allow_nan=False).map(lambda x: round(x, 2)),
    st.integers(min_value=0, max_value=5),  # sequence_number
    st.integers(min_value=100, max_value=110),  # last_modified_ledger
    st.integers(min_value=0, max_value=3),  # ledger_entry_change
    st.booleans(),  # deleted
)


def _model_merge(target_rows, change_rows):
    """Independent Python model of MERGE apply-changes."""
    latest = {}
    for r in change_rows:
        k = r[0]
        cur = latest.get(k)
        # latest by (ledger, change) desc; ties keep first encountered by
        # row_number determinism -> use strictly greater comparison on sort key
        if cur is None or (r[3], r[4]) > (cur[3], cur[4]):
            latest[k] = r
    out = {r[0]: r for r in target_rows if r[0] not in latest}
    for k, r in latest.items():
        if not r[5]:
            out[k] = r
    return {k: (v[1], v[3], v[4]) for k, v in out.items()}


@SLOW
@given(
    target=st.lists(change_row, max_size=6, unique_by=lambda r: r[0]),
    changes=st.lists(change_row, max_size=8, unique_by=lambda r: (r[0], r[3], r[4])),
)
def test_merge_upsert_matches_model(spark, tmp_path_factory, target, changes):
    """apply_changes on a fresh table seeded with ``target`` equals the
    Python MERGE model."""
    import os
    import uuid

    from stellar_etl_airflow_spark.sinks.snapshots import read_snapshot

    path = os.path.join(str(tmp_path_factory.mktemp("upsert")), uuid.uuid4().hex[:8])
    seed = [r[:5] + (False,) for r in target]
    MG.apply_changes(spark, spark.createDataFrame(seed, FX.ACCOUNTS_SCHEMA), path, ("account_id",), n_buckets=4)
    MG.apply_changes(spark, spark.createDataFrame(changes, FX.ACCOUNTS_SCHEMA), path, ("account_id",), n_buckets=4)
    got = {
        r["account_id"]: (r["balance"], r["last_modified_ledger"], r["ledger_entry_change"])
        for r in read_snapshot(spark, path).collect()
    }
    assert got == _model_merge(seed, changes)


@SLOW
@given(
    hours=st.integers(min_value=1, max_value=24),
    span=st.integers(min_value=1, max_value=200),
)
def test_backfill_chunks_partition_range(hours, span):
    start = datetime(2024, 1, 1)
    end = start + timedelta(hours=span)
    chunks = B.chunk_backfill(start, end, hours)
    assert chunks[0][0] == start and chunks[-1][1] == end
    for (a0, a1), (b0, b1) in zip(chunks, chunks[1:]):
        assert a1 == b0  # no gaps, no overlaps
    assert all(c1 - c0 <= timedelta(hours=hours) for c0, c1 in chunks)


words = st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]), min_size=5, max_size=30)


@SLOW
@given(ws=words)
def test_identical_docs_always_lsh_candidates(spark, ws):
    """Jaccard-1 pairs (identical gram sets) must always share every band."""
    text = " ".join(ws)
    docs = spark.createDataFrame([(1, text), (2, text), (3, "unrelated words only here now")], "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]) for r in D.minhash_lsh_pairs(docs).collect()}
    assert (1, 2) in pairs


@SLOW
@given(ws=words)
def test_jaccard_self_similarity(spark, ws):
    """Exact n-gram Jaccard of a doc with itself is 1.0; pair output is
    consistent with the set sizes it reports."""
    text = " ".join(ws)
    docs = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    rows = D.ngram_jaccard_pairs(docs, threshold=0.0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["jaccard"] == 1.0 and r["na"] == r["nb"] == r["shared"]


# ---------------------------------------------------------------------------
# connected components vs a pure-Python union-find on random graphs
# ---------------------------------------------------------------------------

graph_strategy = st.tuples(
    st.integers(min_value=1, max_value=12),  # n vertices
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)), max_size=16
    ),
)


def _union_find(n, edge_list):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        if a < n and b < n and a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    # canonical min-vertex label per component
    comp = {}
    for v in range(n):
        r = find(v)
        comp.setdefault(r, []).append(v)
    return {v: min(vs) for r, vs in comp.items() for v in vs}


@SLOW
@given(graph_strategy)
def test_connected_components_matches_union_find(spark, g):
    from stellar_etl_airflow_spark.training.components import connected_components

    n, edge_list = g
    edges_in = [(a, b) for a, b in edge_list if a < n and b < n and a != b]
    vertices = spark.createDataFrame([(v,) for v in range(n)], "doc_id long")
    if edges_in:
        edges = spark.createDataFrame(edges_in, "doc_a long, doc_b long")
    else:
        edges = spark.createDataFrame([], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["component"] for r in connected_components(vertices, edges).collect()}
    assert got == _union_find(n, edge_list)


# ---------------------------------------------------------------------------
# as-of join (union-window path) vs a per-row Python reference
# ---------------------------------------------------------------------------

asof_strategy = st.tuples(
    st.lists(  # left: (key, ts_offset_minutes)
        st.tuples(st.sampled_from(["k1", "k2"]), st.integers(0, 500)), min_size=1, max_size=12
    ),
    st.lists(  # right: (key, ts_offset_minutes, price)
        st.tuples(
            st.sampled_from(["k1", "k2"]),
            st.integers(0, 500),
            st.integers(1, 9),
        ),
        max_size=12,
    ),
)


@SLOW
@given(asof_strategy)
def test_asof_union_matches_python_model(spark, data):
    from stellar_etl_airflow_spark.operators.asof import asof_join

    lrows, rrows = data
    base = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(k, base + timedelta(minutes=m), i) for i, (k, m) in enumerate(lrows)],
        "key string, ts timestamp, row_id int",
    )
    # make right unique per (key, ts): model ties deterministically by
    # keeping the max price as tiebreak column
    rdict = {}
    for k, m, p in rrows:
        rdict[(k, m)] = max(rdict.get((k, m), 0), p)
    right = spark.createDataFrame(
        [(k, base + timedelta(minutes=m), float(p)) for (k, m), p in rdict.items()],
        "key string, ts timestamp, price double",
    )
    got = {r["row_id"]: r["price"] for r in asof_join(left, right, on="key").collect()}
    want = {}
    for i, (k, m) in enumerate(lrows):
        cands = [(rm, p) for (rk, rm), p in rdict.items() if rk == k and rm <= m]
        want[i] = float(max(cands)[1]) if cands else None
    assert got == want


add_batch = st.lists(
    st.tuples(
        st.sampled_from(["A", "B", "C", "D", "E"]),
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=-500, max_value=500),  # cents, exact as decimal
    ),
    min_size=1,
    max_size=6,
)


@SLOW
@given(batches=st.lists(add_batch, min_size=1, max_size=3))
def test_merge_additive_versioned_matches_model(spark, tmp_path_factory, batches):
    """Random sequences of additive batches: every published version must
    equal the running Python model — final state AND time travel."""
    import os
    import uuid
    from decimal import Decimal

    from stellar_etl_airflow_spark.operators.merge import merge_additive_versioned
    from stellar_etl_airflow_spark.sinks.snapshots import read_snapshot

    path = os.path.join(str(tmp_path_factory.mktemp("addmerge")), uuid.uuid4().hex[:8])
    model: dict[str, list] = {}
    states: list[tuple[int, dict]] = []
    for batch in batches:
        agg: dict[str, list] = {}
        for k, n, cents in batch:
            cur = agg.setdefault(k, [0, Decimal(0)])
            cur[0] += n
            cur[1] += Decimal(cents) / 100
        df = spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in agg.items()],
            "k string, n long, total decimal(38,6)",
        )
        version, touched = merge_additive_versioned(
            spark, df, path, keys=("k",), sum_cols=("n", "total"), n_buckets=4
        )
        assert touched
        for k, v in agg.items():
            cur = model.setdefault(k, [0, Decimal(0)])
            cur[0] += v[0]
            cur[1] += v[1]
        states.append((version, {k: (v[0], v[1]) for k, v in model.items()}))
    for version, expected in states:
        got = {
            r["k"]: (r["n"], Decimal(r["total"]))
            for r in read_snapshot(spark, path, version=version).collect()
        }
        assert got == expected, f"version {version}"


asof_left_row = st.tuples(
    st.sampled_from(["k1", "k2", "k3"]),               # key
    st.integers(min_value=0, max_value=50),            # ts offset (hours)
)
asof_right_row = st.tuples(
    st.sampled_from(["k1", "k2", "k3", "k4"]),
    st.integers(min_value=0, max_value=50),
    st.floats(min_value=0, max_value=9, allow_nan=False).map(lambda x: round(x, 2)),
)


def _model_asof(left_rows, right_rows, direction="backward"):
    """Brute-force Python model: latest right at-or-before (backward) /
    earliest at-or-after (forward); ties on right ts to max rid (backward)
    or min rid (forward), matching the operators' tie conventions."""
    out = []
    for i, (k, lt) in enumerate(left_rows):
        cands = [
            (rt, rid, v)
            for rid, (rk, rt, v) in enumerate(right_rows)
            if rk == k and (rt <= lt if direction == "backward" else rt >= lt)
        ]
        if direction == "backward":
            best = max(cands, key=lambda c: (c[0], c[1]), default=None)
        else:
            best = min(cands, key=lambda c: (c[0], c[1]), default=None)
        out.append((i, best[2] if best else None))
    return sorted(out)


@given(
    st.lists(asof_left_row, min_size=1, max_size=12),
    st.lists(asof_right_row, min_size=0, max_size=12),
)
@SLOW
def test_asof_paths_match_python_model(spark, left_rows, right_rows):
    """asof_join (union+window) and asof_join_pandas (bucketed cogroup
    merge_asof, both directions) against the brute-force model — including
    equal-ts ties, no-match keys, and empty right sides."""
    from stellar_etl_airflow_spark.operators.asof import asof_join, asof_join_pandas

    t0 = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, k, t0 + timedelta(hours=h)) for i, (k, h) in enumerate(left_rows)],
        "row_id int, key string, ts timestamp",
    )
    right = spark.createDataFrame(
        [(rid, k, t0 + timedelta(hours=h), v) for rid, (k, h, v) in enumerate(right_rows)],
        "rid int, key string, ts timestamp, price double",
    ) if right_rows else spark.createDataFrame([], "rid int, key string, ts timestamp, price double")

    def canon(df):
        return sorted((r["row_id"], r["price"]) for r in df.collect())

    jvm = asof_join(left, right, on="key", value_cols=["price"], tiebreak_cols=["rid"])
    assert canon(jvm) == _model_asof(left_rows, right_rows)

    pdx = asof_join_pandas(left, right, on="key", value_cols=["price"], tie_cols=["rid"])
    assert canon(pdx) == _model_asof(left_rows, right_rows)

    fwd = asof_join_pandas(left, right, on="key", value_cols=["price"],
                           direction="forward", tie_cols=["rid"])
    assert canon(fwd) == _model_asof(left_rows, right_rows, direction="forward")


# ---------------------------------------------------------------------------
# Snapshot protocol: random interleavings of writes / clones / vacuums /
# time-travel reads vs a Python model of the manifest log (VERDICT r5 #7).
# ---------------------------------------------------------------------------

snap_op = st.one_of(
    st.tuples(st.just("write"), st.integers(0, 3), st.integers(0, 99)),
    st.tuples(st.just("clone"), st.integers(0, 3), st.just(0)),
    st.tuples(st.just("vacuum"), st.integers(0, 3), st.integers(1, 2)),
)


@SLOW
@given(ops=st.lists(snap_op, min_size=2, max_size=8))
def test_snapshot_vacuum_clone_interleavings_match_model(spark, tmp_path_factory, ops):
    """Model-based check of the manifest protocol (sinks/snapshots.py):

    - every version the model says is retained reads back exactly its
      content — on the table itself AND on every clone, regardless of how
      many source/clone vacuums ran in between (the two directions of the
      Delta shallow-clone hazard);
    - vacuumed-away versions raise on read (no zombie manifests);
    - vacuum never deletes a file a clone's retained manifest still needs
      (caught by the clone-side reads going wrong).

    Mirrors the reference's staging-refresh clone pinning
    (dag_stellar_dbt_staging_refresh.py:83-88)."""
    import os
    import uuid

    from stellar_etl_airflow_spark.sinks import snapshots as S

    root = str(tmp_path_factory.mktemp("snapprop"))
    tables: list[str] = []  # real dirs
    # model: per table, {version: frozenset(rows)} for RETAINED versions
    model: list[dict[int, frozenset]] = []
    payload_seq = 0

    def rows_for(payload: int) -> frozenset:
        return frozenset((payload, i) for i in range(3))

    def do_write(t: int, payload: int) -> None:
        df = spark.createDataFrame(sorted(rows_for(payload)), "payload long, i long")
        v = S.overwrite_versioned(spark, df, tables[t])
        model[t][v] = rows_for(payload)

    # bootstrap: one table with one version
    tables.append(os.path.join(root, uuid.uuid4().hex[:8]))
    model.append({})
    do_write(0, 1000)

    for kind, raw_t, arg in ops:
        t = raw_t % len(tables)
        if kind == "write":
            payload_seq += 1
            do_write(t, arg * 1000 + payload_seq)
        elif kind == "clone":
            dst = os.path.join(root, uuid.uuid4().hex[:8])
            src_latest = max(model[t])
            v = S.clone(tables[t], dst)
            tables.append(dst)
            model.append({v: model[t][src_latest]})
        else:  # vacuum
            newest = max(model[t])
            S.vacuum(tables[t], keep_versions=arg)
            cutoff = newest - arg
            model[t] = {v: c for v, c in model[t].items() if v > cutoff}

        # full sweep after every op: all retained versions of all tables
        for ti, versions in enumerate(model):
            for v, content in versions.items():
                got = frozenset(
                    (r["payload"], r["i"])
                    for r in S.read_snapshot(spark, tables[ti], version=v).collect()
                )
                assert got == content, (ti, v)

    # vacuumed versions must be gone, not readable
    for ti, versions in enumerate(model):
        all_seen = set(range(1, max(versions) + 1))
        for v in sorted(all_seen - set(versions)):
            try:
                S.read_manifest(tables[ti], v)
            except (FileNotFoundError, LookupError):
                continue
            raise AssertionError(f"table {ti} version {v} should be vacuumed")


# ---------------------------------------------------------------------------
# Codec round-trips (r6): random pixel arrays through the pure-stdlib
# PNG writer/decoder; random index maps through the GIF assembler used in
# test_codecs (reference LZW encoder) and our decoder.
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    ch=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_random_arrays(h, w, ch, seed):
    import numpy as np

    from stellar_etl_airflow_spark.training import codecs

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    got = codecs.png_decode(codecs.png_encode(px))
    assert got is not None and got.shape == (h, w, ch)
    assert np.array_equal(got, px)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    n_colors=st.integers(2, 16),
    interlaced=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_roundtrip_random_arrays(h, w, n_colors, interlaced, seed):
    import numpy as np

    from stellar_etl_airflow_spark.training import codecs

    from .test_codecs import _gif_bytes

    rng = np.random.default_rng(seed)
    palette = [tuple(int(x) for x in rng.integers(0, 256, 3)) for _ in range(n_colors)]
    idx = rng.integers(0, n_colors, size=(h, w), dtype=np.int32)
    got = codecs.gif_decode(_gif_bytes(idx, palette, interlaced=interlaced))
    assert got is not None
    want = np.array(palette, dtype=np.uint8)[idx]
    assert np.array_equal(got, want)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    ch=st.sampled_from([1, 3]),
    dri=st.sampled_from([0, 1, 3]),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_roundtrip_random_arrays(h, w, ch, dri, seed):
    """Random arrays (any dims, both channel counts, with/without restart
    markers) survive encode->decode within IDCT/color rounding."""
    import numpy as np

    from stellar_etl_airflow_spark.training.jpeg import jpeg_decode, jpeg_encode

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    dec = jpeg_decode(jpeg_encode(px, restart_interval=dri))
    assert dec is not None and dec.shape == (h, w, ch)
    tol = 1 if ch == 1 else 2
    assert int(np.abs(dec.astype(int) - px.astype(int)).max()) <= tol


# ---------------------------------------------------------------------------
# Txn-ledger retention (r7, VERDICT ask #7): random interleavings of
# additive merges (txn-id'd), replays, and vacuums vs a Python model of
# the ledger + counters. Vacuum prunes ledger entries recorded at
# vacuumed-away versions; exactly-once must hold for every replay of a
# RETAINED version, and a replay of a PRUNED txn re-applies (the
# documented contract: no checkpoint the table can still serve produces
# such a replay).
# ---------------------------------------------------------------------------

txn_op = st.one_of(
    st.tuples(st.just("merge"), st.integers(0, 4), st.just(0)),
    st.tuples(st.just("replay"), st.integers(0, 4), st.just(0)),
    st.tuples(st.just("vacuum"), st.integers(1, 3), st.just(0)),
)


@SLOW
@given(ops=st.lists(txn_op, min_size=3, max_size=10))
def test_txn_ledger_retention_matches_model(spark, tmp_path_factory, ops):
    import os
    import uuid

    from stellar_etl_airflow_spark.sinks import snapshots as S

    path = os.path.join(str(tmp_path_factory.mktemp("txnprop")), uuid.uuid4().hex[:8])

    def batch(i: int):
        return spark.createDataFrame([(f"k{i % 2}", 1)], "k string, n long")

    # model state
    counters: dict[str, int] = {}
    ledger: dict[str, int] = {}
    latest = 0

    def model_merge(i: int):
        nonlocal latest
        txn = f"b{i}"
        if txn in ledger:
            return ledger[txn]
        if latest == 0:
            latest = 1  # _merge_versioned_core bootstrap snapshot
        latest += 1
        counters[f"k{i % 2}"] = counters.get(f"k{i % 2}", 0) + 1
        ledger[txn] = latest
        return latest

    for kind, arg, _ in ops:
        if kind in ("merge", "replay"):
            want_v = model_merge(arg)
            got_v, _t = MG.merge_additive_versioned(
                spark, batch(arg), path, ("k",), ("n",), n_buckets=2, txn_id=f"b{arg}"
            )
            assert got_v == want_v
        else:  # vacuum
            if latest == 0:
                continue
            S.vacuum(path, keep_versions=arg)
            cutoff = latest - arg
            for t in [t for t, v in ledger.items() if v <= cutoff]:
                del ledger[t]
        if latest:
            got_counters = {
                r["k"]: r["n"] for r in S.read_snapshot(spark, path).collect()
            }
            assert got_counters == counters
            got_ledger = {
                t: int(v) for t, v in (S.read_manifest(path).get("txns") or {}).items()
            }
            assert got_ledger == ledger, (got_ledger, ledger)


# --------------------------------------------------------------- data source
# writer protocol: random interleavings of batch appends/overwrites,
# streaming commits (with replayed batchIds), and vacuums, model-checked
# for contents, version monotonicity, and no file leaks.

_ds_op = st.one_of(
    st.tuples(st.just("overwrite"), st.lists(st.integers(0, 99), min_size=1, max_size=4)),
    st.tuples(st.just("append"), st.lists(st.integers(0, 99), min_size=1, max_size=4)),
    st.tuples(st.just("stream"), st.lists(st.integers(0, 99), min_size=1, max_size=3)),
    st.tuples(st.just("replay"), st.lists(st.integers(0, 99), min_size=1, max_size=3)),
    st.tuples(st.just("vacuum"), st.just([])),
    st.tuples(st.just("compact"), st.just([])),
)


@SLOW
@given(ops=st.lists(_ds_op, min_size=1, max_size=7))
def test_datasource_writer_interleavings_match_model(spark, tmp_path_factory, ops):
    """Invariants under any op sequence:
    - table contents == a Python list model (overwrite resets, append and
      each FIRST commit of a stream batchId extend, replays are no-ops);
    - versions grow by exactly 1 per effective publish;
    - after vacuum(keep=1), the files on disk are exactly the live
      manifest's files (no leaks from replays or old versions)."""
    import os

    import pyarrow as pa

    from stellar_etl_airflow_spark.sinks import snapshots as S
    from stellar_etl_airflow_spark.sources import snapshot_source
    from stellar_etl_airflow_spark.sources.snapshot_source import _SnapshotStreamWriter

    snapshot_source.register(spark)
    path = str(tmp_path_factory.mktemp("dsprop") / "t")
    model: list[int] = []
    committed_batches: set[int] = set()
    next_batch = 0
    for kind, vals in ops:
        before = S.latest_version(path) or 0
        if kind in ("overwrite", "append"):
            df = spark.createDataFrame([(v,) for v in vals], "id long")
            df.coalesce(1).write.format("snapshot").option("path", path).mode(kind).save()
            model = list(vals) if kind == "overwrite" else model + list(vals)
            assert S.latest_version(path) == before + 1
        elif kind in ("stream", "replay"):
            if kind == "replay" and not committed_batches:
                continue
            bid = max(committed_batches) if kind == "replay" else next_batch
            w = _SnapshotStreamWriter({"path": path}, overwrite=False)
            tbl = pa.table({"id": pa.array(vals, type=pa.int64())})
            w.commit([w.write(iter(tbl.to_batches()))], batchId=bid)
            if bid in committed_batches:  # replay: must be a no-op
                assert S.latest_version(path) == before
            else:
                model = model + list(vals)
                committed_batches.add(bid)
                next_batch = bid + 1
                assert S.latest_version(path) == before + 1
        elif kind == "compact":
            # content-preserving by contract: versions +1, model unchanged,
            # and the ledger survives (a later replay must still no-op)
            if S.latest_version(path) and S.read_manifest(path)["files"]:
                S.compact_snapshot(spark, path, target_files=2)
                assert S.latest_version(path) == before + 1
        else:  # vacuum
            if S.latest_version(path):
                S.vacuum(path, keep_versions=1)
        if S.latest_version(path):
            got = sorted(
                r["id"] for r in
                spark.read.format("snapshot").option("path", path).load().collect()
            )
            assert got == sorted(model)
    # closing sweep: after a final vacuum the disk holds exactly the
    # live manifest's files
    if S.latest_version(path):
        S.vacuum(path, keep_versions=1)
        live = {os.path.basename(f) for f in S.read_manifest(path)["files"]}
        disk = {f for f in os.listdir(path) if f.endswith(".parquet")}
        assert disk == live


# ---------------------------------------------------------------------------
# Schema-DDL interleavings (r7): rename/drop/constraint/restore are
# manifest-only versions sharing every data file with their
# predecessors — interleaved with writes and vacuum, every retained
# version must read back its own content UNDER ITS OWN LOGICAL SCHEMA,
# and vacuum's manifest-counting must not free files that metadata-only
# versions still share.
# ---------------------------------------------------------------------------

ddl_op = st.one_of(
    st.tuples(st.just("write"), st.integers(0, 99)),
    st.tuples(st.just("rename"), st.just(0)),
    st.tuples(st.just("drop_i"), st.just(0)),
    st.tuples(st.just("constraint"), st.just(0)),
    st.tuples(st.just("restore"), st.integers(0, 7)),
    st.tuples(st.just("vacuum"), st.integers(1, 3)),
    st.tuples(st.just("dv_delete"), st.integers(0, 2)),
)


@SLOW
@given(ops=st.lists(ddl_op, min_size=3, max_size=10))
def test_schema_ddl_vacuum_interleavings_match_model(spark, tmp_path_factory, ops):
    import os
    import uuid

    import pytest as _pt

    from stellar_etl_airflow_spark.sinks import snapshots as S

    tbl = os.path.join(str(tmp_path_factory.mktemp("ddlprop")), uuid.uuid4().hex[:8])
    # model: version -> (frozenset rows, payload_col_name, has_i,
    #                    frozenset of columns referenced by constraints)
    model: dict[int, tuple[frozenset, str, bool, frozenset]] = {}
    seq = 0
    n_constraints = 0

    def rows_for(payload: int) -> frozenset:
        return frozenset((payload, i) for i in range(3))

    def write(payload: int, ccols: frozenset) -> None:
        df = spark.createDataFrame(sorted(rows_for(payload)), "payload long, i long")
        v = S.overwrite_versioned(spark, df, tbl)
        model[v] = (rows_for(payload), "payload", True, ccols)

    write(1000, frozenset())
    for kind, arg in ops:
        cur = model[max(model)]
        if kind == "write":
            seq += 1
            if not cur[3] <= {"payload", "i"}:
                # a constraint references a logical name the fresh frame
                # lacks: the overwrite MUST fail and publish nothing
                with _pt.raises(S.ConstraintViolation):
                    S.overwrite_versioned(
                        spark,
                        spark.createDataFrame([(1, 1)], "payload long, i long"),
                        tbl,
                    )
                continue
            write(arg * 1000 + seq, cur[3])
        elif kind == "rename":
            old, new = (
                (cur[1], "amount") if cur[1] == "payload" else (cur[1], "payload")
            )
            if old in cur[3]:  # constraint-referenced: DDL must refuse
                with _pt.raises(ValueError, match="referenced by CHECK"):
                    S.rename_column(tbl, old, new)
                continue
            v = S.rename_column(tbl, old, new)
            model[v] = (cur[0], new, cur[2], cur[3])
        elif kind == "drop_i":
            if not cur[2]:
                continue  # already dropped at this version
            v = S.drop_column(tbl, "i")
            model[v] = (cur[0], cur[1], False, cur[3])
        elif kind == "constraint":
            n_constraints += 1
            v = S.add_constraint(spark, tbl, f"c{n_constraints}", f"{cur[1]} >= 0")
            model[v] = (cur[0], cur[1], cur[2], cur[3] | {cur[1]})
        elif kind == "dv_delete":
            # merge-on-read delete of one i-slot's rows, under the
            # CURRENT logical payload name; interleaves with every other
            # op (rename/restore/vacuum must carry/roll/reap vectors)
            if not cur[2]:
                continue  # 'i' dropped: the predicate column is gone
            v, _n = S.delete_where_dv(spark, tbl, [("i", "=", arg)])
            remaining = frozenset((p, i) for p, i in cur[0] if i != arg)
            if v in model and model[v] == cur:
                continue  # no row matched: metadata no-op, same version
            model[v] = (remaining, cur[1], cur[2], cur[3])
        elif kind == "restore":
            target = sorted(model)[arg % len(model)]
            v = S.restore(tbl, target)
            model[v] = model[target]
        else:  # vacuum
            newest = max(model)
            S.vacuum(tbl, keep_versions=arg)
            cutoff = newest - arg
            model = {v: c for v, c in model.items() if v > cutoff}

        for v, (content, pname, has_i, _cc) in model.items():
            df = S.read_snapshot(spark, tbl, version=v)
            want_cols = {pname} | ({"i"} if has_i else set())
            assert set(df.columns) == want_cols, (v, df.columns, want_cols)
            if has_i:
                got = frozenset((r[pname], r["i"]) for r in df.collect())
                assert got == content, (v, got, content)
            else:
                got = frozenset(r[pname] for r in df.collect())
                assert got == frozenset(p for p, _ in content), (v, got)


# ---------------------------------------------------------------------------
# r10: the transactional-append ledger vs a Python model. Random
# interleavings of appends (fresh and REPLAYED txns), bin-packing
# compaction, and vacuum must keep the live table exactly equal to the
# multiset union of the UNIQUE applied txns' batches — a duplicated
# replay, a dropped batch, or a compaction/vacuum that reopens the
# replay hole all break the model equality.
# ---------------------------------------------------------------------------

append_op = st.one_of(
    st.tuples(st.just("append"), st.integers(0, 4)),   # txn id 0..4 (repeats = replays)
    st.tuples(st.just("append_anon"), st.integers(0, 99)),  # no txn: always applies
    st.tuples(st.just("compact"), st.just(0)),
    st.tuples(st.just("vacuum"), st.integers(1, 2)),
)


@SLOW
@given(ops=st.lists(append_op, min_size=2, max_size=9))
def test_append_ledger_interleavings_match_model(spark, tmp_path_factory, ops):
    from stellar_etl_airflow_spark.sinks import snapshots as S

    tbl = str(tmp_path_factory.mktemp("appendprop") / "t")
    applied_txns: set[int] = set()
    model: list[tuple[int, int]] = []  # expected multiset of (k, v)
    seq = 0

    def batch_rows(tag):
        return [(tag, tag * 10), (tag, tag * 10 + 1)]

    for op, arg in ops:
        if op == "append":
            # A replay is a no-op iff the txn is still ledger-GUARDED at
            # append time. Vacuum legitimately prunes entries recorded at
            # expired versions (the documented exactly-once window —
            # snapshots.vacuum "Txn-ledger retention"); a replay arriving
            # after the prune re-applies, and the model must mirror that
            # (hypothesis found append/append/vacuum(1)/replay in r13).
            guarded = bool(S.latest_version(tbl)) and f"t{arg}" in (
                S.read_manifest(tbl, resolve=False).get("txns") or {}
            )
            S.append_versioned(
                spark,
                spark.createDataFrame(batch_rows(arg), "k long, v long").repartition(1),
                tbl,
                txn_id=f"t{arg}",
            )
            if not guarded:  # fresh txn, or its guard was vacuumed away
                applied_txns.add(arg)
                model.extend(batch_rows(arg))
        elif op == "append_anon":
            seq += 1
            tag = 1000 + seq * 100 + arg
            S.append_versioned(
                spark,
                spark.createDataFrame(batch_rows(tag), "k long, v long").repartition(1),
                tbl,
            )
            model.extend(batch_rows(tag))
        elif op == "compact":
            if S.latest_version(tbl):
                S.compact_small_files(spark, tbl, min_bytes=1 << 30)
        elif op == "vacuum":
            if S.latest_version(tbl):
                S.vacuum(tbl, keep_versions=arg, orphan_retention_s=3600)
        if S.latest_version(tbl):
            got = sorted(tuple(r) for r in S.read_snapshot(spark, tbl).collect())
            assert got == sorted(model), f"after {op}({arg})"
    # the ledger still guards every txn it RETAINS (vacuum legitimately
    # prunes entries whose recorded version expired — replays of those
    # are outside the documented exactly-once window, so they are not
    # asserted either way)
    if S.latest_version(tbl) and applied_txns:
        ledger = S.read_manifest(tbl, resolve=False).get("txns") or {}
        before = S.latest_version(tbl)
        for t in sorted(applied_txns):
            if f"t{t}" not in ledger:
                continue
            v = S.append_versioned(
                spark,
                spark.createDataFrame([(t, -1)], "k long, v long").repartition(1),
                tbl,
                txn_id=f"t{t}",
            )
            assert v <= before, f"txn t{t} replay published a new version"
        got = sorted(tuple(r) for r in S.read_snapshot(spark, tbl).collect())
        assert got == sorted(model)


# ---------------------------------------------------------------------------
# r11: the additive-MoR fold REBASE vs a Python model. Random
# interleavings of deltas (fresh and REPLAYED txns, Spark-staged and
# driver-staged), folds, folds that RACE an injected mid-fold delta
# (the rebase path: the fold must absorb the delta, not swallow or
# double it), and vacuum must keep the folded view exactly equal to the
# per-key sum of the UNIQUE applied deltas.
# ---------------------------------------------------------------------------

mor_op = st.one_of(
    st.tuples(st.just("delta"), st.integers(0, 4)),      # txn 0..4 (repeats = replays)
    st.tuples(st.just("delta_rows"), st.integers(0, 99)),  # driver-staged, always applies
    st.tuples(st.just("fold"), st.just(0)),
    st.tuples(st.just("fold_racing"), st.integers(0, 99)),  # delta lands mid-fold
    st.tuples(st.just("vacuum"), st.integers(1, 2)),
)


@SLOW
@given(ops=st.lists(mor_op, min_size=2, max_size=8))
def test_additive_mor_fold_rebase_matches_model(spark, tmp_path_factory, ops):
    from collections import Counter

    from stellar_etl_airflow_spark.operators import additive_mor as AM
    from stellar_etl_airflow_spark.sinks import snapshots as S

    tbl = str(tmp_path_factory.mktemp("morprop") / "t")
    keys, sums, sch = ("k",), ("n",), "k long, n long"
    applied: set[int] = set()
    model: Counter = Counter()
    seq = 0

    def check(ctx):
        if S.latest_version(tbl):
            got = {r["k"]: r["n"] for r in AM.read_additive(spark, tbl).collect()}
            assert got == dict(model), f"after {ctx}"

    real_adopt = S.adopt_staged
    try:
        for op, arg in ops:
            if op == "delta":
                # A replay is a no-op iff the txn is still ledger-GUARDED
                # at write time. Vacuum legitimately prunes entries
                # recorded at expired versions (snapshots.vacuum
                # "Txn-ledger retention"); a replay arriving after the
                # prune re-applies, and the model must mirror that — the
                # same guard bd9c179 gave the append interleaving test
                # (hypothesis found delta/delta/vacuum(1)/delta-replay).
                guarded = bool(S.latest_version(tbl)) and f"t{arg}" in (
                    S.read_manifest(tbl, resolve=False).get("txns") or {}
                )
                rows = [(0, arg + 1), (1, (arg + 1) * 10)]
                AM.write_delta(
                    spark,
                    spark.createDataFrame(rows, sch).repartition(1),
                    tbl, keys, sums, txn_id=f"t{arg}",
                )
                if not guarded:  # fresh txn, or its guard was vacuumed away
                    applied.add(arg)
                    for k, n in rows:
                        model[k] += n
            elif op == "delta_rows":
                seq += 1
                rows = [(2, 1000 + seq * 100 + arg)]
                AM.write_delta_rows(spark, rows, sch, tbl, keys, sums)
                for k, n in rows:
                    model[k] += n
            elif op == "fold" and S.latest_version(tbl):
                AM.fold_additive(spark, tbl)
            elif op == "fold_racing" and S.latest_version(tbl):
                fired = {"n": 0}
                rows = [(1, arg + 7)]

                def adopt_inject(stage, path, _rows=rows):
                    out = real_adopt(stage, path)
                    if fired["n"] == 0 and "_stage-fold-" in stage:
                        fired["n"] += 1
                        S.adopt_staged = real_adopt
                        AM.write_delta_rows(spark, _rows, sch, tbl, keys, sums)
                        S.adopt_staged = adopt_inject
                    return out

                S.adopt_staged = adopt_inject
                try:
                    AM.fold_additive(spark, tbl)
                finally:
                    S.adopt_staged = real_adopt
                if fired["n"]:  # the fold must have REBASED the delta in
                    for k, n in rows:
                        model[k] += n
            elif op == "vacuum" and S.latest_version(tbl):
                S.vacuum(tbl, keep_versions=arg, orphan_retention_s=3600)
            check(f"{op}({arg})")
    finally:
        S.adopt_staged = real_adopt
    # replays of retained txns stay no-ops even after folds/vacuum
    if S.latest_version(tbl) and applied:
        ledger = S.read_manifest(tbl, resolve=False).get("txns") or {}
        before = S.latest_version(tbl)
        for t in sorted(applied):
            if f"t{t}" not in ledger:
                continue
            v = AM.write_delta(
                spark,
                spark.createDataFrame([(0, -999)], sch).repartition(1),
                tbl, keys, sums, txn_id=f"t{t}",
            )
            assert v <= before, f"txn t{t} replay published a new version"
        check("final replays")

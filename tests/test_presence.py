"""Presence-index sidecars (plans/presence.py + Table.present_key_*):
sorted key-hash arrays giving exact, zero-data-IO membership checks —
the engine's analogue of Kudu's per-rowset bloom + B-tree key seek
(tablet/tablet.cc:116-124, cfile/index_btree.cc)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from kudu_spark.engine import Engine
from kudu_spark.plans import presence


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


def make_table(engine, n=500, bloom_cols="k"):
    t = engine.create_table(
        "pt", [("k", "bigint", False), ("v", "string", True)], pk=["k"],
        hash_partitions=[{"columns": ["k"], "buckets": 4}],
    )
    engine.alter_table("pt").set_property("pk_bloom_cols", bloom_cols).apply()
    t = engine.table("pt")
    df = engine.spark.range(n).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v"))
    t.insert(df)
    return engine.table("pt")


# -- module-level format/probe ----------------------------------------------


def test_shards_for_power_of_two():
    assert presence.shards_for(1) == 1
    assert presence.shards_for(presence.TARGET_SHARD_KEYS) == 1
    assert presence.shards_for(presence.TARGET_SHARD_KEYS + 1) == 2
    for rows in (10, 10_000, 5_000_000, 123_456_789):
        ns = presence.shards_for(rows)
        assert ns & (ns - 1) == 0  # power of two


def test_build_and_probe_roundtrip(spark, tmp_path):
    df = spark.range(10_000).select(F.xxhash64("id").alias("h"))
    d = str(tmp_path / "x.pidx")
    meta = presence.build_commit_index(df, 10_000, d, ["id"], ["bigint"], 0)
    assert meta is not None and meta["rows"] == 10_000
    assert presence.read_meta(d)["cols"] == ["id"]
    # every build key probes present; disjoint keys probe absent
    probe = spark.range(20_000).select(
        "id", F.xxhash64("id").alias("h"),
        presence.present_udf(((d, meta["nshards"], 0, True),))(F.xxhash64("id")).alias("p"))
    got = {r.id: r.p for r in probe.collect()}
    assert all(got[i] for i in range(10_000))
    assert not any(got[i] for i in range(10_000, 20_000))


def test_build_sharded_matches_small(spark, tmp_path):
    """The executor-side (sharded) build and the driver-side build
    produce byte-identical shard sets."""
    n = 50_000
    df = spark.range(n).select(F.xxhash64("id").alias("h"))
    d1, d2 = str(tmp_path / "a.pidx"), str(tmp_path / "b.pidx")
    m1 = presence.build_commit_index(df, n, d1, ["id"], ["bigint"], 0)
    old = presence.SMALL_BUILD_MAX
    try:
        presence.SMALL_BUILD_MAX = 0  # force the executor-side path
        m2 = presence.build_commit_index(df, n, d2, ["id"], ["bigint"], 0)
    finally:
        presence.SMALL_BUILD_MAX = old
    assert m1["nshards"] == m2["nshards"] and m1["bytes"] == m2["bytes"]
    for s in range(m1["nshards"]):
        a1 = np.fromfile(presence._shard_path(d1, s), dtype="<i8")
        a2 = np.fromfile(presence._shard_path(d2, s), dtype="<i8")
        assert np.array_equal(a1, a2)


def test_probe_multi_sidecar_and_empty_shards(spark, tmp_path):
    """Keys spread across several sidecars with differing shard counts
    (powers of two) all resolve; missing shard files read as empty."""
    specs = []
    for i, n in enumerate((100, 3000)):
        df = spark.range(i * 100_000, i * 100_000 + n).select(
            F.xxhash64("id").alias("h"))
        d = str(tmp_path / f"s{i}.pidx")
        m = presence.build_commit_index(df, n, d, ["id"], ["bigint"], 0)
        specs.append((d, m["nshards"], 0, True))
    probe = spark.range(0, 200_000, 50).select(
        "id", presence.present_udf(tuple(specs))(F.xxhash64("id")).alias("p"))
    got = {r.id: r.p for r in probe.collect()}
    for i in got:
        assert got[i] == (i < 100 or 100_000 <= i < 103_000)


def test_shard_cache_lru_and_fd_cap(tmp_path, monkeypatch):
    """VERDICT r8 task #6: the executor shard cache is LRU, not FIFO —
    a re-probed (hot) shard must survive an eviction cycle — and the
    entry count is capped independently of the byte budget (each
    cached memmap holds an open fd)."""
    d = str(tmp_path / "c.pidx")
    os.makedirs(d)
    for s in range(4):
        presence._write_shard(d, s, np.arange(s * 10, s * 10 + 10, dtype="<i8"))
    monkeypatch.setattr(presence, "_SHARD_CACHE", {})
    # byte budget fits ~2 shards of 80 bytes each
    monkeypatch.setattr(presence, "_SHARD_CACHE_BYTES", 200)
    presence._load_shard(d, 0)
    presence._load_shard(d, 1)
    presence._load_shard(d, 0)  # hit: must refresh recency
    presence._load_shard(d, 2)  # evicts shard 1 (LRU), NOT shard 0
    assert (d, 0, "shard") in presence._SHARD_CACHE
    assert (d, 1, "shard") not in presence._SHARD_CACHE
    # fd cap binds even with byte budget to spare
    monkeypatch.setattr(presence, "_SHARD_CACHE_BYTES", 1 << 30)
    monkeypatch.setattr(presence, "_SHARD_CACHE_MAX_FDS", 2)
    presence._SHARD_CACHE.clear()
    for s in range(4):
        presence._load_shard(d, s)
    assert len(presence._SHARD_CACHE) <= 2
    assert (d, 3, "shard") in presence._SHARD_CACHE  # newest retained


# -- delta commits keep the probe (VERDICT r8 task #2) -----------------------


def test_probe_stays_live_and_exact_through_upsert_deltas(engine, spark):
    """Upsert/update delta commits carry live presence sidecars, so a
    mutating table KEEPS its O(batch) key probe — exact, since neither
    op can retire a PK (Kudu's per-rowset presence covers deltas,
    tablet/tablet.cc:116-124)."""
    t = make_table(engine, n=500)
    engine.alter_table("pt").set_property("auto_compact", "false").apply()
    t = engine.table("pt")
    t.upsert(spark.range(450, 550).select(
        F.col("id").alias("k"), F.lit("up").alias("v")))
    t = engine.table("pt")
    st = t.state()
    assert any(f.kind == "delta" for f in st.files)
    assert all(f.bloom and f.bloom.endswith(".pidx") for f in st.files)
    probe = spark.range(0, 1200, 10).select(F.col("id").alias("k"))
    got = t.present_key_check(probe, ["k"])
    assert got is not None, "probe declined on a table with upsert deltas"
    assert {r.k for r in got.collect()} == {i for i in range(0, 1200, 10) if i < 550}
    assert t.statistics()["presence_exact"] is True


def test_insert_zero_data_io_with_live_upsert_deltas(engine, spark, monkeypatch):
    """The money shot of delta sidecars: a novel-key INSERT against a
    table with live upsert deltas reads ZERO data files — the presence
    index answers the duplicate probe entirely."""
    import kudu_spark.table as tbl

    t = make_table(engine, n=500)
    engine.alter_table("pt").set_property("auto_compact", "false").apply()
    t = engine.table("pt")
    t.upsert(spark.range(100, 200).select(
        F.col("id").alias("k"), F.lit("up").alias("v")))
    t = engine.table("pt")
    assert any(f.kind == "delta" for f in t.state().files)
    calls = []
    orig = tbl.Table._snapshot_df

    def spy(self, st, filters=None, *a, **kw):
        calls.append((self.name, filters))
        return orig(self, st, filters, *a, **kw)

    monkeypatch.setattr(tbl.Table, "_snapshot_df", spy)
    t.insert(spark.range(10_000, 10_100).select(
        F.col("id").alias("k"), F.lit("new").alias("v")))
    assert [c for c in calls if c[0] == "pt"] == []


def test_probe_stays_exact_through_delete_deltas(engine, spark):
    """VERDICT r9 task #2: DELETE commits index their tombstone keys
    as a delete shard family, and the probe subtracts them by commit
    seq — present_key_check stays EXACT with live delete deltas, zero
    data-file IO (the reference consults delete deltas with
    timestamps, tablet/tablet.cc:116-124, tablet/delta_tracker.cc)."""
    t = make_table(engine, n=500)
    engine.alter_table("pt").set_property("auto_compact", "false").apply()
    t = engine.table("pt")
    t.delete(spark.range(0, 50).select(F.col("id").alias("k")))
    t = engine.table("pt")
    s = t.statistics()
    assert s["presence_coverage"] == 1.0 and s["presence_exact"] is True
    keys = spark.range(0, 1000, 25).select(F.col("id").alias("k"))
    got = t.present_key_check(keys, ["k"])
    assert got is not None, "exact probe declined on indexed delete deltas"
    live = set(range(50, 500, 25))
    assert {r.k for r in got.collect()} == live
    # delete -> re-insert: the newest live commit outranks the delete
    t.insert(spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit("back").alias("v")))
    t = engine.table("pt")
    got2 = t.present_key_check(keys, ["k"])
    assert got2 is not None
    assert {r.k for r in got2.collect()} == live | {0}  # k=0 re-added
    # compaction folds everything into one live sidecar, same answers
    t.compact()
    t = engine.table("pt")
    assert t.statistics()["presence_exact"] is True
    got3 = t.present_key_check(keys, ["k"])
    assert {r.k for r in got3.collect()} == live | {0}


def test_reinsert_of_deleted_key_runs_zero_data_io(engine, spark, monkeypatch):
    """The point of exact delete subtraction: INSERTing keys that were
    DELETEd (plus novel ones) needs no duplicate-scan at all — the
    probe proves them absent without touching data files (previously
    the tombstone marker forced the fallback join)."""
    import kudu_spark.table as tbl

    t = make_table(engine, n=300)
    engine.alter_table("pt").set_property("auto_compact", "false").apply()
    t = engine.table("pt")
    t.delete(spark.range(0, 40).select(F.col("id").alias("k")))
    t = engine.table("pt")
    calls = []
    orig = tbl.Table._snapshot_df

    def spy(self, st, filters=None, *a, **kw):
        calls.append((self.name, filters))
        return orig(self, st, filters, *a, **kw)

    monkeypatch.setattr(tbl.Table, "_snapshot_df", spy)
    t.insert(spark.range(0, 20).select(
        F.col("id").alias("k"), F.lit("again").alias("v")))
    assert [c for c in calls if c[0] == "pt"] == []
    assert engine.table("pt").scan(
        filters=[("k", "<", 40)]).count() == 20  # 0..19 back, 20..39 gone


def test_duplicate_insert_still_errors_with_delete_deltas(engine, spark):
    """Exactness must not cut the other way: keys still live (never
    deleted) keep erroring on duplicate INSERT while delete deltas are
    live."""
    from kudu_spark.errors import DuplicateKeyError

    t = make_table(engine, n=100)
    engine.alter_table("pt").set_property("auto_compact", "false").apply()
    t = engine.table("pt")
    t.delete(spark.range(0, 10).select(F.col("id").alias("k")))
    t = engine.table("pt")
    with pytest.raises(DuplicateKeyError):
        t.insert(spark.createDataFrame([(50, "dup")], "k bigint, v string"))


def test_sidecar_merge_spans_delta_commits(engine, spark):
    """The size-tiered merge consolidates base AND delta live sidecars
    (tombstone markers are skipped — meta-only), keeping probe work
    bounded on mutating tables."""
    t = make_table(engine, n=200)
    engine.alter_table("pt").set_property("auto_compact", "false").apply()
    t = engine.table("pt")
    for i in range(6):
        t.upsert(spark.range(i * 40, i * 40 + 40).select(
            F.col("id").alias("k"), F.lit(f"u{i}").alias("v")))
    t = engine.table("pt")
    v = t.merge_presence_sidecars(max_live=2)
    assert v is not None
    t = engine.table("pt")
    live_sidecars = {f.bloom for f in t.state().files}
    assert len(live_sidecars) <= 3
    got = t.present_key_check(
        spark.range(0, 400, 7).select(F.col("id").alias("k")), ["k"])
    assert got is not None
    assert {r.k for r in got.collect()} == {i for i in range(0, 400, 7) if i < 240}


# -- Table integration -------------------------------------------------------


def test_insert_attaches_pidx_and_check_is_exact(engine, spark):
    t = make_table(engine, n=500)
    assert all(f.bloom and f.bloom.endswith(".pidx") for f in t.state().files)
    keys = spark.range(400, 600).select(F.col("id").alias("k"))
    got = t.present_key_check(keys, ["k"])
    assert got is not None
    assert sorted(r.k for r in got.collect()) == list(range(400, 500))


def test_prefix_probe_superset(engine, spark):
    """A sidecar over a PK prefix serves full-PK probes with superset
    semantics (VERDICT r7 missing #3: the bands-table insert path)."""
    t = engine.create_table(
        "pre", [("a", "int", False), ("b", "string", False),
                ("c", "bigint", False)], pk=["a", "b", "c"],
        hash_partitions=[{"columns": ["a", "b"], "buckets": 2}],
    )
    engine.alter_table("pre").set_property("pk_bloom_cols", "a,b").apply()
    t = engine.table("pre")
    t.insert(spark.createDataFrame(
        [(1, "x", 10), (1, "y", 11), (2, "x", 12)], "a int, b string, c bigint"))
    t = engine.table("pre")
    probe = spark.createDataFrame(
        [(1, "x", 99), (3, "z", 1)], "a int, b string, c bigint")
    got = t.present_key_probe(probe, ["a", "b", "c"])
    assert got is not None
    rows = got.collect()  # (1,x,*) prefix present -> superset keeps it
    assert [(r.a, r.b) for r in rows] == [(1, "x")]
    # exact check must DECLINE on a prefix-only sidecar
    assert t.present_key_check(probe, ["a", "b", "c"]) is None
    # and the txn insert path engages the probe: inserting brand-new
    # prefixes short-circuits, a true duplicate still errors
    from kudu_spark.errors import DuplicateKeyError
    t.insert(spark.createDataFrame([(5, "q", 50)], "a int, b string, c bigint"))
    with pytest.raises(DuplicateKeyError):
        engine.table("pre").insert(spark.createDataFrame(
            [(1, "x", 10)], "a int, b string, c bigint"))


def test_probe_declines_on_column_drift(engine, spark):
    """ADVICE r7 (medium): sidecars stamp the hashed column tuple;
    altering pk_bloom_cols must DECLINE probes over old sidecars, not
    fabricate false negatives."""
    t = make_table(engine, n=100)
    keys = spark.range(5).select(F.col("id").alias("k"))
    assert t.present_key_check(keys, ["k"]) is not None
    # flip the property to a different tuple: old sidecars now hash a
    # DIFFERENT tuple than the property claims — both the old-tuple
    # and new-tuple probes must refuse rather than answer wrongly
    engine.alter_table("pt").set_property("pk_bloom_cols", "v").apply()
    t2 = engine.table("pt")
    assert t2.present_key_probe(
        spark.createDataFrame([("v1",)], "v string"), ["v"]) is None
    # the ORIGINAL tuple still probes fine (sidecar meta is
    # authoritative, not the current property)
    assert t2.present_key_check(keys, ["k"]) is not None


def test_probe_declines_on_sidecarless_delta(engine, spark, monkeypatch):
    """A delta WITHOUT a sidecar (failed build — healthy deltas carry
    one since round 9) still declines the probe; compaction rebuilds
    coverage."""
    import kudu_spark.table as tbl

    t = make_table(engine, n=100)
    with monkeypatch.context() as mp:
        mp.setattr(tbl.Table, "_attach_presence_index",
                   lambda self, st, entries, tombstones=False: None)
        t.upsert(spark.createDataFrame([(1, "vv")], "k bigint, v string"))
    t = engine.table("pt")
    keys = spark.range(5).select(F.col("id").alias("k"))
    assert t.present_key_probe(keys, ["k"]) is None
    # compaction folds the delta and restores coverage
    t.compact()
    t = engine.table("pt")
    assert t.present_key_check(keys, ["k"]) is not None


def test_statistics_surface_presence_health(engine, spark, monkeypatch):
    import kudu_spark.table as tbl

    t = make_table(engine, n=100)
    s = t.statistics()
    assert s["presence_sidecars"] >= 1 and s["presence_bytes"] > 0
    assert s["presence_coverage"] == 1.0 and s["presence_exact"] is True
    # healthy upsert deltas keep full, exact coverage
    t.upsert(spark.createDataFrame([(1, "vv")], "k bigint, v string"))
    s2 = engine.table("pt").statistics()
    assert s2["presence_coverage"] == 1.0 and s2["presence_exact"] is True
    # a sidecar-less delta (failed build) drops coverage; user can see it
    with monkeypatch.context() as mp:
        mp.setattr(tbl.Table, "_attach_presence_index",
                   lambda self, st, entries, tombstones=False: None)
        engine.table("pt").upsert(
            spark.createDataFrame([(2, "x")], "k bigint, v string"))
    s3 = engine.table("pt").statistics()
    assert s3["presence_coverage"] < 1.0
    r = engine.sql("SHOW TABLE STATS pt").collect()[0]
    assert r.presence_coverage < 1.0


def _stats_drift_alter_tuple(engine, t, spark, monkeypatch):
    engine.alter_table("sx").set_property("pk_bloom_cols", "id,v").apply()
    engine.table("sx").insert(spark.createDataFrame(
        [(100, "new")], "id bigint, v string"))


def _stats_drift_cap(engine, t, spark, monkeypatch):
    monkeypatch.setattr(presence, "MAX_SIDECARS", 2)


def _stats_drift_unreadable_meta(engine, t, spark, monkeypatch):
    rel = sorted({f.bloom for f in t.state().files})[0]
    os.remove(os.path.join(t.root, rel, presence.META_NAME))
    presence._META_CACHE.clear()


def _stats_drift_legacy_sidecar(engine, t, spark, monkeypatch):
    st = t.state()
    victim = sorted({f.bloom for f in st.files})[0]
    entries = []
    for f in st.files:
        if f.bloom == victim:
            e = type(f).from_json(f.to_json())
            e.bloom = victim[: -len(".pidx")] + ".bloom"
            entries.append(e)
    t._commit(st, "pidx_merge", entries, removes=[e.path for e in entries],
              restamp_seq=False)


def _stats_drift_dropped_column(engine, t, spark, monkeypatch):
    engine.alter_table("sx").drop_column("v").apply()


def _stats_drift_type(engine, t, spark, monkeypatch):
    import dataclasses

    st = t.state()
    cols = [dataclasses.replace(c, type="string") if c.name == "v2" else c
            for c in st.schema.columns]
    t._commit(st, "alter", [], schema=dataclasses.replace(
        st.schema, columns=cols, version=st.schema.version + 1))


@pytest.mark.parametrize("drift, bloom_cols", [
    (_stats_drift_alter_tuple, "id"),
    (_stats_drift_cap, "id"),
    (_stats_drift_unreadable_meta, "id"),
    (_stats_drift_legacy_sidecar, "id"),
    (_stats_drift_dropped_column, "id,v"),
    (_stats_drift_type, "id,v2"),
], ids=["altered_tuple", "cap", "unreadable_meta", "legacy_sidecar",
        "dropped_column", "type_drift"])
def test_statistics_presence_exact_agrees_with_probe(engine, spark, monkeypatch,
                                                     drift, bloom_cols):
    """statistics()['presence_exact'] says whether present_key_check
    answers over the sidecar tuple — for every way the probe can
    decline, not just the coverage and superset flags."""
    engine.create_table(
        "sx", [("id", "bigint", False), ("v", "string", True),
               ("v2", "int", True)], pk=["id"],
        hash_partitions=[{"columns": ["id"], "buckets": 2}],
    )
    engine.alter_table("sx").set_property("pk_bloom_cols", bloom_cols) \
        .set_property("auto_compact", "false").apply()
    for i in range(3):
        engine.table("sx").insert(spark.createDataFrame(
            [(i, f"v{i}", i)], "id bigint, v string, v2 int"))
    t = engine.table("sx")
    cols = bloom_cols.split(",")
    keys = t.scan().select(*cols)
    rows, schema = keys.collect(), keys.schema
    assert t.statistics()["presence_exact"] is True
    assert t.present_key_check(keys, cols) is not None
    drift(engine, t, spark, monkeypatch)
    t = engine.table("sx")
    got = t.present_key_check(spark.createDataFrame(rows, schema), cols)
    assert got is None
    assert t.statistics()["presence_exact"] == (got is not None)
    presence._META_CACHE.clear()


def test_vacuum_collects_orphan_pidx(engine, spark):
    t = make_table(engine, n=100)
    # deltas across every bucket make all partitions compactable;
    # compact() folds them and rewrites bases, leaving the original
    # sidecars unreferenced
    t.upsert(spark.range(100).select(
        F.col("id").alias("k"), F.lit("vv").alias("v")))
    t = engine.table("pt")
    t.compact()
    t = engine.table("pt")
    live = {f.bloom for f in t.state().files}
    from kudu_spark.meta import DATA_DIR
    data_dir = os.path.join(t.root, DATA_DIR)
    orphans = [n for n in os.listdir(data_dir)
               if n.endswith(".pidx") and os.path.join(DATA_DIR, n) not in live]
    assert orphans  # pre-compaction sidecars now unreferenced
    t.vacuum(force=True)
    left = [n for n in os.listdir(data_dir) if n.endswith(".pidx")]
    assert all(os.path.join(DATA_DIR, n) in live for n in left)
    # probes still work off the surviving consolidated sidecar
    keys = spark.range(90, 110).select(F.col("id").alias("k"))
    got = t.present_key_check(keys, ["k"])
    assert got is not None and got.count() == 10


def test_sidecar_tiered_merge_bounds_live_count(engine, spark):
    """Append streams whose files outgrow small-file packing must not
    accumulate O(commits) sidecars: the size-tiered merge consolidates
    the INDEX without rewriting data files, preserving exactness and
    the merge-on-read seq order."""
    t = engine.create_table(
        "mt", [("k", "bigint", False), ("v", "string", True)], pk=["k"],
        hash_partitions=[{"columns": ["k"], "buckets": 2}],
    )
    engine.alter_table("mt").set_property("pk_bloom_cols", "k") \
        .set_property("auto_compact", "false").apply()
    t = engine.table("mt")
    for i in range(12):
        t.insert(spark.range(i * 100, i * 100 + 100).select(
            F.col("id").alias("k"), F.lit(f"b{i}").alias("v")))
        t = engine.table("mt")
    assert len({f.bloom for f in t.state().files}) == 12
    files_before = {f.path for f in t.state().files}
    v = t.merge_presence_sidecars(max_live=4)
    assert v is not None
    t = engine.table("mt")
    live = {f.bloom for f in t.state().files}
    assert len(live) <= 4
    # data files untouched; every file still covered
    assert {f.path for f in t.state().files} == files_before
    assert all(f.bloom for f in t.state().files)
    # probes stay exact across the merged index
    keys = spark.range(1150, 1250).select(F.col("id").alias("k"))
    got = t.present_key_check(keys, ["k"])
    assert got is not None
    assert sorted(r.k for r in got.collect()) == list(range(1150, 1200))
    # row content identical (seq preserved, nothing resurrected)
    assert t.scan().count() == 1200
    assert t.statistics()["live_row_count"] == 1200
    # below the cap: a second call is a no-op
    assert t.merge_presence_sidecars(max_live=4) is None


def test_restore_rebuilds_presence_index(engine, spark, tmp_path):
    """Backups carry table options, so a restored table keeps its
    pk_bloom_cols and the first replayed insert rebuilds sidecars —
    restore does not silently lose the O(batch) probe."""
    from kudu_spark.sources.backup import backup, restore

    t = make_table(engine, n=200)
    backup(t, str(tmp_path / "bk"))
    dst = restore(engine, str(tmp_path / "bk"), "pt", new_name="pt2")
    dst = engine.table("pt2")
    assert dst.state().props.get("pk_bloom_cols") == "k"
    assert all(f.bloom for f in dst.state().files)
    keys = spark.range(150, 250).select(F.col("id").alias("k"))
    got = dst.present_key_check(keys, ["k"])
    assert got is not None and got.count() == 50


def test_probe_shard_aligned_repartition_path(engine, spark, monkeypatch):
    """Force the big-index path (multi-shard sidecar + probe batch
    repartitioned by shard id) and check results are identical to the
    small path."""
    monkeypatch.setattr(presence, "TARGET_SHARD_KEYS", 256)
    t = make_table(engine, n=2000)
    assert presence.read_meta(
        os.path.join(t.root, next(iter({f.bloom for f in t.state().files})))
    )["nshards"] > 1
    keys = spark.range(1900, 2100).select(F.col("id").alias("k"))
    small = sorted(r.k for r in t.present_key_check(keys, ["k"]).collect())
    import kudu_spark.table as tbl
    monkeypatch.setattr(tbl.Table, "PRESENCE_PARTITION_BYTES", 0)
    big = sorted(r.k for r in t.present_key_check(keys, ["k"]).collect())
    assert small == big == list(range(1900, 2000))


def test_presence_exact_over_mixed_key_types(engine, spark):
    """Build-side hashes parquet-read values; probe-side hashes
    write-cast batch values — they must agree for every PK type,
    including decimal (scale), timestamp, and varchar (truncation)."""
    t = engine.create_table(
        "tt", [("d", "decimal(12,2)", False), ("ts", "timestamp", False),
               ("s", "varchar(5)", False), ("v", "int", True)],
        pk=["d", "ts", "s"],
        hash_partitions=[{"columns": ["d"], "buckets": 2}],
    )
    engine.alter_table("tt").set_property("pk_bloom_cols", "d,ts,s").apply()
    t = engine.table("tt")
    rows = spark.sql(
        "SELECT CAST(id + 0.25 AS DECIMAL(12,2)) AS d, "
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts, "
        "substring(concat('key', id), 1, 5) AS s, CAST(id AS INT) AS v "
        "FROM range(100)")
    t.insert(rows)
    t = engine.table("tt")
    # present half, absent half; the varchar probe side arrives
    # UNTRUNCATED (write-cast must truncate before hashing)
    probe = spark.sql(
        "SELECT CAST(id + 0.25 AS DECIMAL(12,2)) AS d, "
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts, "
        "concat('key', id, 'LONG_TAIL') AS s FROM range(50, 150)")
    got = t.present_key_check(probe, ["d", "ts", "s"])
    assert got is not None
    assert got.count() == 50  # ids 50..99 present, 100..149 absent


# -- property fuzz: merge + probe vs a set model (no Spark) ------------------
#
# merge_indexes' shard-gathering math (coarse sources filtered by the
# merged modulus, finer sources taken whole per congruence class) is
# exactly the kind of arithmetic a few directed examples can miss —
# fuzz it against plain set union, across forced shard-count regimes.

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst

_hashes = hst.lists(
    hst.one_of(
        hst.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
        hst.integers(min_value=-8, max_value=8),  # force cross-source dups
    ),
    min_size=0, max_size=120,
)


def _np_sidecar(dir_abs: str, hv: np.ndarray, ns: int, seq: int = 0,
                dels: np.ndarray | None = None, ns_d: int = 1) -> None:
    """Sidecar directory written straight from numpy (the same format
    build_commit_index produces — asserted equal in
    test_build_sharded_matches_small for the Spark builders)."""
    import json

    os.makedirs(dir_abs, exist_ok=True)
    shard = hv % ns if ns > 1 else np.zeros(len(hv), dtype="int64")
    total = 0
    for s in np.unique(shard):
        total += presence._write_shard(dir_abs, int(s), np.unique(hv[shard == s]))
    meta = {"version": 2, "cols": ["k"], "types": ["bigint"], "seq": int(seq),
            "nshards": int(ns), "rows": int(len(hv)), "bytes": int(total)}
    if dels is not None and len(dels):
        dsh = dels % ns_d if ns_d > 1 else np.zeros(len(dels), dtype="int64")
        for s in np.unique(dsh):
            total += presence._write_shard(
                dir_abs, int(s), np.unique(dels[dsh == s]), "del")
        meta.update(del_nshards=int(ns_d), del_rows=int(len(dels)),
                    bytes=int(total))
        if len(hv):
            meta["mixed"] = True
    with open(os.path.join(dir_abs, presence.META_NAME), "w") as f:
        json.dump(meta, f)


@settings(max_examples=120, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(srcs=hst.lists(
    hst.tuples(_hashes, hst.sampled_from([1, 2, 4, 8, 16])),
    min_size=1, max_size=4,
), tiny_shards=hst.integers(min_value=2, max_value=32))
def test_merge_indexes_fuzz_vs_set_union(srcs, tiny_shards):
    """merge_indexes(sources) == set union, for sources whose shard
    counts straddle the merged count both ways (coarser AND finer),
    including negative hashes, duplicates across sources, and empty
    sources/shards. Also: every merged shard holds exactly the keys
    congruent to it, sorted and deduped, and the meta byte count is
    the file truth."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="pidx-fuzz-")
    old_target = presence.TARGET_SHARD_KEYS
    try:
        # shrink the shard target so small inputs exercise ns_m > 1
        presence.TARGET_SHARD_KEYS = tiny_shards
        dirs, model = [], set()
        for i, (hv_list, ns) in enumerate(srcs):
            hv = np.array(hv_list, dtype="int64")
            d = os.path.join(root, f"s{i}.pidx")
            _np_sidecar(d, hv, ns, seq=i + 1)
            dirs.append(d)
            model |= set(int(x) for x in hv)
        out = os.path.join(root, "merged.pidx")
        meta = presence.merge_indexes(dirs, out)
        assert meta is not None
        ns_m = meta["nshards"]
        assert ns_m == presence.shards_for(sum(len(h) for h, _ in srcs))
        got, total_bytes = set(), 0
        for s in range(ns_m):
            try:
                arr = np.fromfile(presence._shard_path(out, s), dtype="<i8")
            except OSError:
                continue
            assert np.array_equal(arr, np.unique(arr))  # sorted, deduped
            if ns_m > 1:
                assert (arr % ns_m == s).all()
            total_bytes += arr.nbytes
            got |= set(int(x) for x in arr)
        assert got == model
        assert meta["bytes"] == total_bytes
        # the probe agrees with the model through the merged sidecar
        probe = np.array(sorted(model) + [10 ** 17 + 7, -(10 ** 17)], dtype="int64")
        present = presence.probe_hashes(((out, ns_m, 0, True),), probe)
        for h, p in zip(probe.tolist(), present.tolist()):
            assert p == (h in model)
    finally:
        presence.TARGET_SHARD_KEYS = old_target
        shutil.rmtree(root, ignore_errors=True)
        # drop fuzz shards from the per-process cache so later tests
        # never see stale entries for re-used tmp dir names
        presence._SHARD_CACHE.clear()
        presence._META_CACHE.clear()


def test_merge_distributed_matches_driver(spark, tmp_path, monkeypatch):
    """The executor-side (applyInPandas) merge and the driver-side
    merge produce byte-identical shard sets — the distributed path is
    the 100 TB shape (merge IO scales with executors, the driver
    handles metadata only), the driver path the small-index fast
    path."""
    dirs = []
    for i, n in enumerate((40_000, 25_000, 10_000)):
        df = spark.range(i * 30_000, i * 30_000 + n).select(
            F.xxhash64("id").alias("h"))
        d = str(tmp_path / f"m{i}.pidx")
        presence.build_commit_index(df, n, d, ["id"], ["bigint"], 0)
        dirs.append(d)
    monkeypatch.setattr(presence, "TARGET_SHARD_KEYS", 4096)  # ns_m > 1
    d_drv = str(tmp_path / "drv.pidx")
    m_drv = presence.merge_indexes(dirs, d_drv)  # no spark: driver path
    monkeypatch.setattr(presence, "DRIVER_MERGE_MAX_BYTES", 0)
    d_dist = str(tmp_path / "dist.pidx")
    m_dist = presence.merge_indexes(dirs, d_dist, spark=spark)
    assert m_drv is not None and m_dist is not None
    assert m_drv["nshards"] == m_dist["nshards"]
    assert m_drv["bytes"] == m_dist["bytes"] and m_drv["bytes"] > 0
    for s in range(m_drv["nshards"]):
        try:
            a1 = np.fromfile(presence._shard_path(d_drv, s), dtype="<i8")
        except OSError:
            a1 = np.empty(0, dtype="<i8")
        try:
            a2 = np.fromfile(presence._shard_path(d_dist, s), dtype="<i8")
        except OSError:
            a2 = np.empty(0, dtype="<i8")
        assert np.array_equal(a1, a2)


def test_load_shard_ioerror_is_loud_not_absent(tmp_path, monkeypatch):
    """ADVICE r9 (medium): only a MISSING shard file reads as 'no keys'
    — any other IO failure (here: a truncated/odd-length file, the
    local stand-in for a transient object-store error) must raise, not
    silently answer 'absent' into the insert duplicate check."""
    d = str(tmp_path / "c.pidx")
    os.makedirs(d)
    monkeypatch.setattr(presence, "_SHARD_CACHE", {})
    # missing file: legitimately empty shard
    assert len(presence._load_shard(d, 0)) == 0
    # corrupt file: 3 bytes is not a whole int64 — must be LOUD
    with open(presence._shard_path(d, 1), "wb") as f:
        f.write(b"\x01\x02\x03")
    with pytest.raises(OSError, match="refusing"):
        presence._load_shard(d, 1)

# -- delete-family probe + replay merge (VERDICT r9 task #2) -------------------


def test_probe_hashes_seq_subtraction(tmp_path):
    """Per-key resolution by highest seq: live hit → present, delete
    hit → absent, live-wins on a same-seq (mixed-commit) tie."""
    root = str(tmp_path)
    a = lambda *xs: np.array(xs, dtype="int64")  # noqa: E731
    d1 = os.path.join(root, "c1.pidx")  # seq 1: insert 1,2,3
    d2 = os.path.join(root, "c2.pidx")  # seq 2: delete 2,3
    d3 = os.path.join(root, "c3.pidx")  # seq 3: re-insert 3; mixed 4 del+live
    _np_sidecar(d1, a(1, 2, 3), 2, seq=1)
    _np_sidecar(d2, a(), 1, seq=2, dels=a(2, 3), ns_d=2)
    _np_sidecar(d3, a(3, 4), 1, seq=3, dels=a(4), ns_d=1)
    specs = (
        (d1, 2, 1, True),
        (d2, 2, 2, False),
        (d3, 1, 3, True),
        (d3, 1, 3, False),
    )
    got = presence.probe_hashes(specs, a(1, 2, 3, 4, 5)).tolist()
    #  1: live@1                      -> present
    #  2: deleted@2                   -> absent
    #  3: deleted@2, re-added@3       -> present
    #  4: mixed commit@3 (live wins)  -> present
    #  5: never seen                  -> absent
    assert got == [True, False, True, True, False]
    presence._SHARD_CACHE.clear()
    presence._META_CACHE.clear()


def test_merge_replay_folds_deletes(tmp_path):
    """merge_indexes replays live/delete commits in seq order: the
    merged sidecar answers exactly like the unmerged chain, keeps the
    delete union for subtracting OLDER sidecars, and drops it with
    drop_deletes=True (window covers the oldest sidecar)."""
    root = str(tmp_path)
    a = lambda *xs: np.array(xs, dtype="int64")  # noqa: E731
    d0 = os.path.join(root, "c0.pidx")  # seq 1 (older, stays unmerged)
    d1 = os.path.join(root, "c1.pidx")  # seq 2
    d2 = os.path.join(root, "c2.pidx")  # seq 3: deletes 2 (from c1) and 10 (from c0!)
    d3 = os.path.join(root, "c3.pidx")  # seq 4: re-adds 2
    _np_sidecar(d0, a(10, 11), 1, seq=1)
    _np_sidecar(d1, a(1, 2, 3), 2, seq=2)
    _np_sidecar(d2, a(), 1, seq=3, dels=a(2, 10), ns_d=2)
    _np_sidecar(d3, a(2), 1, seq=4)
    out = os.path.join(root, "merged.pidx")
    meta = presence.merge_indexes([d1, d2, d3], out)
    assert meta is not None and meta["seq"] == 4
    # merged live = {1,3} ∪ {2 re-added}; delete union kept = {2,10}
    specs = ((d0, 1, 1, True), (out, meta["nshards"], 4, True),
             (out, meta["del_nshards"], 4, False))
    got = presence.probe_hashes(specs, a(1, 2, 3, 10, 11, 99)).tolist()
    # 10 was deleted at seq 3 and only lives in the OLDER unmerged
    # sidecar: the merged delete family must still subtract it
    assert got == [True, True, True, False, True, False]
    assert meta["del_rows"] == 2
    # drop_deletes: merging from the oldest sidecar discards the union
    out2 = os.path.join(root, "merged2.pidx")
    meta2 = presence.merge_indexes([d0, d1, d2, d3], out2, drop_deletes=True)
    assert meta2 is not None and not meta2.get("del_rows")
    got2 = presence.probe_hashes(
        ((out2, meta2["nshards"], 4, True),), a(1, 2, 3, 10, 11, 99)).tolist()
    assert got2 == [True, True, True, False, True, False]
    presence._SHARD_CACHE.clear()
    presence._META_CACHE.clear()


def test_merge_indexes_refuses_unordered_or_unindexed(tmp_path):
    """The replay contract is guarded: sources out of seq order,
    missing seqs, or carrying unindexed delete keys refuse to merge."""
    import json

    root = str(tmp_path)
    a = lambda *xs: np.array(xs, dtype="int64")  # noqa: E731
    d1, d2 = os.path.join(root, "a.pidx"), os.path.join(root, "b.pidx")
    _np_sidecar(d1, a(1), 1, seq=5)
    _np_sidecar(d2, a(2), 1, seq=3)
    assert presence.merge_indexes([d1, d2], os.path.join(root, "m")) is None
    # del_unindexed refuses
    d3 = os.path.join(root, "c.pidx")
    _np_sidecar(d3, a(4), 1, seq=6)
    m = json.loads(open(os.path.join(d3, presence.META_NAME)).read())
    m["del_unindexed"], m["del_rows"] = True, 3
    open(os.path.join(d3, presence.META_NAME), "w").write(json.dumps(m))
    presence._META_CACHE.clear()
    assert presence.merge_indexes([d2, d3], os.path.join(root, "m2")) is None
    presence._META_CACHE.clear()


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    ops=hst.lists(
        hst.tuples(
            hst.booleans(),  # is_delete commit
            hst.lists(hst.integers(min_value=0, max_value=30),
                      min_size=0, max_size=12),
        ),
        min_size=1, max_size=6,
    ),
    tiny_shards=hst.integers(min_value=2, max_value=16),
    w0=hst.integers(min_value=0, max_value=5),
    w1=hst.integers(min_value=0, max_value=5),
)
def test_presence_delete_fuzz_vs_model(ops, tiny_shards, w0, w1):
    """Interleaved live/delete commits vs a last-write-wins dict model:
    the probe over per-commit sidecars must match the model exactly,
    and merging ANY contiguous window must not change a single
    answer."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="pidx-delfuzz-")
    old_target = presence.TARGET_SHARD_KEYS
    try:
        presence.TARGET_SHARD_KEYS = tiny_shards
        model: dict[int, bool] = {}  # key -> live?
        specs = []
        dirs = []
        for i, (is_del, keys) in enumerate(ops):
            seq = i + 1
            hv = np.array(sorted(set(keys)), dtype="int64")
            d = os.path.join(root, f"c{i}.pidx")
            ns = presence.shards_for(len(hv))
            if is_del:
                _np_sidecar(d, np.array([], dtype="int64"), 1,
                            seq=seq, dels=hv, ns_d=ns)
                if len(hv):
                    specs.append((d, ns, seq, False))
                for k in keys:
                    model[k] = False
            else:
                _np_sidecar(d, hv, ns, seq=seq)
                if len(hv):
                    specs.append((d, ns, seq, True))
                for k in keys:
                    model[k] = True
            dirs.append((d, seq))
        probe = np.arange(-2, 33, dtype="int64")
        want = [bool(model.get(int(k), False)) for k in probe]
        got = presence.probe_hashes(tuple(specs), probe).tolist()
        assert got == want
        # merge a contiguous window [lo, hi) and re-probe
        lo, hi = sorted((w0 % len(dirs), w1 % len(dirs)))
        hi += 1
        if hi - lo >= 2:
            window = dirs[lo:hi]
            out = os.path.join(root, "merged.pidx")
            meta = presence.merge_indexes(
                [d for d, _ in window], out, drop_deletes=(lo == 0))
            assert meta is not None
            merged_specs = [t for t in specs
                            if t[0] not in {d for d, _ in window}]
            if meta["rows"]:
                merged_specs.append((out, meta["nshards"], meta["seq"], True))
            if meta.get("del_rows"):
                merged_specs.append(
                    (out, meta["del_nshards"], meta["seq"], False))
            got2 = presence.probe_hashes(tuple(merged_specs), probe).tolist()
            assert got2 == want
    finally:
        presence.TARGET_SHARD_KEYS = old_target
        shutil.rmtree(root, ignore_errors=True)
        presence._SHARD_CACHE.clear()
        presence._META_CACHE.clear()


def test_nonpk_tuple_delete_degrades_to_superset(engine, spark):
    """pk_bloom_cols outside the PK: delete tombstones carry only the
    PK, so delete keys go unindexed — probes stay (superset-) correct,
    exactness is declined, statistics say so."""
    t = engine.create_table(
        "np", [("k", "bigint", False), ("v", "string", True)], pk=["k"],
        hash_partitions=[{"columns": ["k"], "buckets": 2}],
    )
    engine.alter_table("np").set_property("pk_bloom_cols", "v") \
        .set_property("auto_compact", "false").apply()
    t = engine.table("np")
    t.insert(spark.range(100).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")))
    t = engine.table("np")
    t.delete(spark.range(0, 30).select(F.col("id").alias("k")))
    t = engine.table("np")
    assert t.statistics()["presence_exact"] is False
    probe = spark.createDataFrame([("v5",), ("v50",), ("nope",)], "v string")
    got = t.present_key_probe(probe, ["v"])
    assert got is not None
    hits = {r.v for r in got.collect()}
    assert "v50" in hits and "nope" not in hits  # no false negatives
    assert t.present_key_check(probe, ["v"]) is None  # honesty


def test_txn_insert_plus_delete_one_commit_stays_exact(engine, spark):
    """A single-table transaction staging an INSERT and a DELETE
    publishes ONE commit carrying two sidecars at distinct sub-seqs
    (live + delete family): probes must order them correctly — the
    deleted keys answer absent, the inserted ones present, exactly."""
    from kudu_spark.writer import Transaction

    t = make_table(engine, n=300)
    engine.alter_table("pt").set_property("auto_compact", "false").apply()
    t = engine.table("pt")
    txn = Transaction(t)
    txn.insert(spark.range(1000, 1050).select(
        F.col("id").alias("k"), F.lit("txn").alias("v")))
    txn.delete(spark.range(0, 30).select(F.col("id").alias("k")))
    txn.commit()
    t = engine.table("pt")
    keys = spark.range(0, 1100, 10).select(F.col("id").alias("k"))
    got = t.present_key_check(keys, ["k"])
    assert got is not None, "exact probe declined after a mixed txn commit"
    want = ({i for i in range(30, 300, 10)}
            | {i for i in range(1000, 1050, 10)})
    assert {r.k for r in got.collect()} == want
    assert t.statistics()["presence_exact"] is True


def test_merge_distributed_replay_matches_driver_with_deletes(
        spark, tmp_path, monkeypatch):
    """The executor-side merge REPLAY (live + delete families) is
    byte-identical to the driver-side one."""
    import pandas as pd

    dirs = []
    for i, (lo, n, dlo, dn) in enumerate(
            ((0, 30_000, 0, 0), (15_000, 20_000, 0, 8_000),
             (0, 0, 20_000, 12_000))):
        hd = spark.range(lo, lo + n).select(
            F.xxhash64("id").alias("h"), F.lit(False).alias("d"))
        if dn:
            hd = hd.unionByName(spark.range(dlo, dlo + dn).select(
                F.xxhash64("id").alias("h"), F.lit(True).alias("d")))
        d = str(tmp_path / f"c{i}.pidx")
        presence.build_commit_index(hd, n + dn, d, ["id"], ["bigint"], seq=i + 1)
        dirs.append(d)
    monkeypatch.setattr(presence, "TARGET_SHARD_KEYS", 4096)  # ns_m > 1
    d_drv = str(tmp_path / "drv.pidx")
    m_drv = presence.merge_indexes(dirs, d_drv)
    monkeypatch.setattr(presence, "DRIVER_MERGE_MAX_BYTES", 0)
    d_dist = str(tmp_path / "dist.pidx")
    m_dist = presence.merge_indexes(dirs, d_dist, spark=spark)
    assert m_drv is not None and m_dist is not None
    assert (m_drv["rows"], m_drv.get("del_rows"), m_drv["bytes"]) == \
        (m_dist["rows"], m_dist.get("del_rows"), m_dist["bytes"])
    for prefix, ns_key in (("shard", "nshards"), ("del", "del_nshards")):
        for s in range(m_drv[ns_key]):
            arrs = []
            for d in (d_drv, d_dist):
                try:
                    arrs.append(np.fromfile(
                        presence._shard_path(d, s, prefix), dtype="<i8"))
                except OSError:
                    arrs.append(np.empty(0, dtype="<i8"))
            assert np.array_equal(arrs[0], arrs[1]), (prefix, s)
    presence._SHARD_CACHE.clear()
    presence._META_CACHE.clear()


def test_txn_commit_retry_resyncs_sidecar_seq(engine, spark):
    """The false-negative race the r10 seq-sync closes: a transaction
    stages an UPSERT of key k, a concurrent DELETE of k lands FIRST
    (taking the version the txn wanted), the txn retries and commits
    after — k is live. Without rewriting the staged sidecar's meta seq
    at retry, the probe would order the stale live seq BELOW the
    delete and answer k absent: a false negative into the insert
    duplicate check."""
    from kudu_spark.writer import Transaction

    t = make_table(engine, n=100)
    engine.alter_table("pt").set_property("auto_compact", "false").apply()
    t = engine.table("pt")
    txn = Transaction(t)
    txn.upsert(spark.createDataFrame([(5, "resurrect")], "k bigint, v string"))
    # concurrent writer wins the version the txn staged against
    engine.table("pt").delete(spark.createDataFrame([(5,)], "k bigint"))
    txn.commit()  # retries; k=5 is live again, AFTER the delete
    t = engine.table("pt")
    assert {r.v for r in t.scan(filters=[("k", "=", 5)]).collect()} == \
        {"resurrect"}
    got = t.present_key_check(
        spark.createDataFrame([(5,)], "k bigint"), ["k"])
    assert got is not None
    assert [r.k for r in got.collect()] == [5], \
        "probe ordered the txn's live sidecar below the earlier delete"
    # and the sidecar metas agree with the committed entry seqs
    st = t.state()
    for rel in {f.bloom for f in st.files if f.bloom}:
        meta = presence.read_meta(os.path.join(t.root, rel))
        covered = max(f.seq for f in st.files if f.bloom == rel)
        assert int(meta["seq"]) == covered


def test_prefix_tuple_delete_never_false_negative(engine, spark):
    """A sidecar over a STRICT PK-prefix must not subtract delete keys:
    deleting ONE row of a (a,b) prefix group leaves sibling rows live —
    the probe must keep answering the prefix present (superset, no
    false negatives), and exactness must be declined."""
    t = engine.create_table(
        "pfx", [("a", "int", False), ("b", "string", False),
                ("c", "bigint", False)], pk=["a", "b", "c"],
        hash_partitions=[{"columns": ["a", "b"], "buckets": 2}],
    )
    engine.alter_table("pfx").set_property("pk_bloom_cols", "a,b") \
        .set_property("auto_compact", "false").apply()
    t = engine.table("pfx")
    t.insert(spark.createDataFrame(
        [(1, "x", 10), (1, "x", 11), (2, "y", 20)],
        "a int, b string, c bigint"))
    t = engine.table("pfx")
    # delete ONE of the two (1, x) rows: the prefix is still live
    t.delete(spark.createDataFrame([(1, "x", 10)], "a int, b string, c bigint"))
    t = engine.table("pfx")
    probe = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")],
                                  "a int, b string")
    got = t.present_key_probe(probe, ["a", "b"])
    assert got is not None
    hits = {(r.a, r.b) for r in got.collect()}
    assert (1, "x") in hits, \
        "FALSE NEGATIVE: sibling row's prefix subtracted by one row's delete"
    assert (2, "y") in hits and (3, "z") not in hits
    # exactness honestly declined (delete keys unindexed on this tuple)
    assert t.present_key_check(probe, ["a", "b"]) is None
    assert t.statistics()["presence_exact"] is False


def test_partial_compaction_keeps_delete_subtraction(engine, spark):
    """The r10 partial-compaction hand-off: compacting ONLY the dirty
    partitions folds the delete deltas and kills their sidecar, but
    OLDER commit-wide live sidecars (files in untouched partitions)
    still list the deleted keys — the new sidecar must inherit the
    delete family or probes would claim dead keys present, exactly."""
    t = make_table(engine, n=400)  # one commit-wide sidecar, 4 buckets
    engine.alter_table("pt").set_property("auto_compact", "false").apply()
    t = engine.table("pt")
    t.delete(spark.createDataFrame([(8,), (16,), (24,)], "k bigint"))
    t = engine.table("pt")
    # compact ONLY the partitions the delete dirtied — the original
    # base files in clean buckets keep the old commit-wide sidecar
    dirty = sorted({(tuple(f.partition.get("hash", [])), f.partition.get("range"))
                    for f in t.state().files if f.kind == "delta"})
    assert len(dirty) < 4, "test needs untouched partitions to be meaningful"
    t.compact(partitions=[list(p) for p in dirty])
    t = engine.table("pt")
    assert not any(f.kind == "delta" for f in t.state().files)
    assert len({f.bloom for f in t.state().files}) >= 2  # old + new sidecars
    keys = spark.createDataFrame([(8,), (16,), (24,), (9,), (399,), (5000,)],
                                 "k bigint")
    got = t.present_key_check(keys, ["k"])
    assert got is not None, "probe declined after partial compaction"
    assert {r.k for r in got.collect()} == {9, 399}, \
        "deleted keys leaked back through the old commit-wide sidecar"
    assert t.statistics()["presence_exact"] is True
    # the absorbed sidecar's byte bookkeeping stays audit-consistent
    assert engine.fsck("pt")["pt"]["ok"], "fsck flags the absorbed sidecar"
    # inserting the deleted keys again works (exactly-absent short path)
    t.insert(spark.createDataFrame([(8, "back")], "k bigint, v string"))
    assert engine.table("pt").scan(filters=[("k", "=", 8)]).count() == 1


def test_partial_compaction_prefix_tuple_inherits_superset(engine, spark):
    """Prefix-tuple tables (delete keys unindexable): a PARTIAL
    compaction folding those deletes must keep probes SUPERSET (the
    new sidecar inherits del_unindexed) — and a FULL compaction
    finally restores exactness."""
    t = engine.create_table(
        "pf2", [("a", "int", False), ("b", "bigint", False)], pk=["a", "b"],
        hash_partitions=[{"columns": ["a"], "buckets": 4}],
    )
    engine.alter_table("pf2").set_property("pk_bloom_cols", "a") \
        .set_property("auto_compact", "false").apply()
    t = engine.table("pf2")
    t.insert(spark.range(100).selectExpr("cast(id % 50 as int) a", "id b"))
    t = engine.table("pf2")
    t.delete(spark.createDataFrame([(7, 7)], "a int, b bigint"))
    t = engine.table("pf2")
    dirty = sorted({(tuple(f.partition.get("hash", [])), f.partition.get("range"))
                    for f in t.state().files if f.kind == "delta"})
    t.compact(partitions=[list(p) for p in dirty])
    t = engine.table("pf2")
    assert t.statistics()["presence_exact"] is False  # inherited, honest
    probe = spark.createDataFrame([(7,), (8,), (500,)], "a int")
    got = t.present_key_probe(probe, ["a"])
    assert got is not None
    hits = {r.a for r in got.collect()}
    assert 8 in hits and 500 not in hits  # superset, no false negatives
    assert t.present_key_check(probe, ["a"]) is None
    t.compact(full=True)
    t = engine.table("pf2")
    assert t.statistics()["presence_exact"] is True
    got2 = t.present_key_check(probe, ["a"])
    # a=7 still live: row (7, 57) survives the (7, 7) delete
    assert {r.a for r in got2.collect()} == {7, 8}


def test_range_drop_sheds_punctured_sidecars(engine, spark):
    """Dropping a range partition vanishes its rows while commit-wide
    sidecars still list their keys: surviving files shed the punctured
    sidecar reference, probes DECLINE (statistics show it), and
    compaction rebuilds honest coverage."""
    t = engine.create_table(
        "rd", [("k", "bigint", False), ("v", "string", True)], pk=["k"],
        range_partition={"column": "k", "ranges": [[0, 100], [100, 200]]},
    )
    engine.alter_table("rd").set_property("pk_bloom_cols", "k") \
        .set_property("auto_compact", "false").apply()
    t = engine.table("rd")
    t.insert(spark.range(200).select(
        F.col("id").alias("k"), F.lit("x").alias("v")))
    t = engine.table("rd")
    assert t.present_key_check(
        spark.range(150, 160).select(F.col("id").alias("k")), ["k"]) is not None
    engine.alter_table("rd").drop_range_partition(100, 200).apply()
    t = engine.table("rd")
    assert t.scan().count() == 100
    keys = spark.createDataFrame([(50,), (150,)], "k bigint")
    # punctured sidecar shed: probe declines rather than answering 150
    # present; statistics surface the lapse
    assert t.present_key_probe(keys, ["k"]) is None
    assert t.statistics()["presence_coverage"] < 1.0
    t.compact(full=True)
    t = engine.table("rd")
    got = t.present_key_check(keys, ["k"])
    assert got is not None
    assert {r.k for r in got.collect()} == {50}
    assert t.statistics()["presence_exact"] is True


def test_sidecar_merge_declines_on_bloomless_live_file(engine, spark):
    """A live file with NO sidecar reference (failed presence build or
    shed by fsck --repair) can sit seq-wise inside any merge window
    without being replayed — if it held deletes, the merged sidecar
    would answer those keys 'present' with exact=True (ADVICE r10
    medium). Probes already decline at coverage<1.0, so the merge must
    decline too instead of baking the gap in."""
    t = engine.create_table(
        "blm", [("k", "bigint", False), ("v", "string", True)], pk=["k"],
        hash_partitions=[{"columns": ["k"], "buckets": 2}],
    )
    engine.alter_table("blm").set_property("pk_bloom_cols", "k") \
        .set_property("auto_compact", "false").apply()
    t = engine.table("blm")
    for i in range(6):
        t.insert(spark.range(i * 100, i * 100 + 100).select(
            F.col("id").alias("k"), F.lit(f"b{i}").alias("v")))
        t = engine.table("blm")
    # shed one mid-seq commit's sidecar ref the way fsck --repair does
    st = t.state()
    from kudu_spark.meta import FileEntry
    victims = sorted(st.files, key=lambda f: f.seq)[2:4]
    entries = []
    for f in victims:
        nf = FileEntry.from_json(f.to_json())
        nf.bloom = None
        entries.append(nf)
    t._commit(st, "fsck_repair", entries,
              removes=[e.path for e in entries], retries=1, restamp_seq=False)
    t = engine.table("blm")
    assert any(not f.bloom for f in t.state().files)
    assert t.merge_presence_sidecars(max_live=2) is None


@pytest.mark.parametrize("schema,bloom,rows", [
    ([("k", "bigint", False), ("v", "int", True)], "k",
     [(k * 7919 - 10**12, k) for k in range(60)]),
    ([("s", "string", False), ("v", "int", True)], "s",
     [(f"key-{k}-日本", k) for k in range(60)]),
    ([("a", "int", False), ("b", "varchar(6)", False), ("v", "int", True)], "a,b",
     [(k % 3, f"tail{k}-untruncated", k) for k in range(60)]),
])
def test_driver_keyhash_finds_keys_in_sidecar(engine, spark, schema, bloom, rows):
    """The presence build hashes keys in the JVM, unseeded, over the
    write-cast columns. plans/keyhash.py computes the same hash on the
    driver: every key written in one commit lands in its sidecar's
    ``shard-<h % nshards>`` array."""
    from kudu_spark.plans import keyhash

    cols = bloom.split(",")
    t = engine.create_table("kp", schema, pk=cols)
    engine.alter_table("kp").set_property("pk_bloom_cols", bloom).apply()
    t = engine.table("kp")
    t.insert(spark.createDataFrame(
        rows, ", ".join(f"{n} {'string' if ty.startswith('varchar') else ty}"
                        for n, ty, _ in schema)))
    st = t.state()
    (rel,) = {f.bloom for f in st.files}
    d = os.path.join(t.root, rel)
    ns = presence.read_meta(d)["nshards"]
    types = {n: ty for n, ty, _ in schema}
    hashed = zip(*[keyhash.column(types[c], [r[i] for r in rows]) for i, c in enumerate(cols)])
    for v in map(keyhash.xxhash64, hashed):
        shard = presence._load_shard(d, v % ns)
        assert shard[np.searchsorted(shard, v)] == v

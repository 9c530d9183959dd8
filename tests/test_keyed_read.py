"""Differential gate for the driver-side keyed read (``Table._live_rows``)
and the point reads it serves (``Table.scan`` with every PK column bound
by ``=`` or an IN-list): at every version of the merge-on-read state
matrix, over every PK type of the key probe's gate (NaN, -0.0, NULL
keys, dead buckets, declining sidecars, keys the driver cannot hash),
composite keys on range + hash tables, IN-lists with duplicates, a
renamed column and an added column with a default, its rows must equal
``_snapshot_df``'s. Each case the driver read declines must reach the
Spark arm it replaces, and an eligible point read runs no Spark job."""

from __future__ import annotations

import dataclasses
import datetime
import itertools
import math
from decimal import Decimal

import pytest

import kudu_spark.table as tbl
from kudu_spark.engine import Engine
from tests.test_key_probe import NAN, make
from tests.test_merge_matrix import history  # noqa: F401  (module fixture)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    return Engine(spark, str(tmp_path_factory.mktemp("keyed_read")))


def _norm(v):
    """A value's identity, down to the sign of a zero and NaN."""
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", v, math.copysign(1.0, v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, list):
        return tuple(map(_norm, v))
    return v


def _ident(key) -> tuple:
    return tbl._key_ident(tuple(bytes(v) if isinstance(v, bytearray) else v for v in key))


def check_rows(t, keys, st=None, cols=None):
    """``_live_rows(keys, cols)`` and ``_live_keys(keys)`` against the
    rows of ``_snapshot_df``."""
    st = st or t.state()
    pk = st.schema.pk
    cols = st.schema.names if cols is None else cols
    names = pk + [c for c in cols if c not in pk]
    truth = {_ident(r[:len(pk)]): r for r in (
        tuple(x[c] for c in names) for x in t._snapshot_df(st).collect())}
    want = [(i,) + truth[_ident(k)] for i, k in enumerate(keys)
            if None not in k and _ident(k) in truth]
    got = t._live_rows(st, keys, cols)
    assert got is not None
    assert got.column_names == names + ["__i"]
    have = [(r["__i"],) + tuple(r[c] for c in names) for r in got.to_pylist()]
    assert [tuple(map(_norm, r)) for r in have] == [tuple(map(_norm, r)) for r in want]
    assert t._live_keys(st, keys) == [None not in k and _ident(k) in truth for k in keys]


def check_scan(t, filters, version=None, columns=None, ordered=False, limit=None):
    """A keyed ``scan`` takes the driver arm and equals ``_snapshot_df``
    under the same filters, schema included."""
    st = t.state(version)
    assert t._keyed_scan(st, filters, columns) is not None
    got = t.scan(filters=filters, version=version, columns=columns, ordered=ordered,
                 limit=limit)
    want = t._snapshot_df(st, filters)
    if ordered:
        want = want.orderBy(*st.schema.pk)
    if columns:
        want = want.select(*columns)
    if limit is not None:
        want = want.limit(limit)
    assert got.schema == want.schema
    rows = [tuple(map(_norm, r)) for r in got.collect()]
    expect = [tuple(map(_norm, r)) for r in want.collect()]
    if not ordered:
        rows, expect = sorted(rows), sorted(expect)
    assert rows == expect, filters
    return rows


def key_filters(pk, keys):
    """One IN-list per PK column over ``keys``' distinct values, its
    first value repeated."""
    out = []
    for j, c in enumerate(pk):
        vals = [k[0] for k in tbl._distinct_keys((k[j],) for k in keys)]
        out.append((c, "in", vals + vals[:1]))
    return out


def walk(engine, t, upsert_rows, delete_keys, reinsert_rows, probe, unhashable=()):
    """Check ``probe`` on the clean table, then after an upsert delta,
    a delete delta and a reinsert of deleted keys; ``unhashable`` keys
    (no Spark literal either) only through ``_live_rows``."""
    spark, name = engine.spark, t.name
    sch = t.state().schema
    ddl = ", ".join(f"`{c}` {sch.col(c).type}" for c in sch.pk).replace(
        "varchar(10)", "string")
    steps = [None, ("upsert", upsert_rows, ddl + ", v int"), ("delete", delete_keys, ddl),
             ("insert", reinsert_rows, ddl + ", v int")]
    hashable = [k for k in probe if None not in k]
    some = hashable[:3] + hashable[-6:]  # the IN-lists stay under PROBE_KEYS_MAX
    for step in steps:
        if step is not None:
            getattr(t, step[0])(spark.createDataFrame(step[1], step[2]))
            t = engine.table(name)
        check_rows(t, probe + list(unhashable))
        check_scan(t, key_filters(sch.pk, some))
        check_scan(t, [(c, "=", v) for c, v in zip(sch.pk, hashable[1])])


def test_merge_states_at_every_version(history):  # noqa: F811
    t, versions = history
    probes = [(a, b) for a in range(4) for b in (0, 1, 10, 14, 19, 21, 28, 101, 202, 999)]
    for v, _live, _ghosts in versions:
        st = t.state(v)
        check_rows(t, probes, st=st)
        check_rows(t, probes, st=st, cols=["s"])
        rows = check_scan(t, key_filters(["tenant", "id"], probes), version=v)
        assert len(rows) == sum(1 for k in set(probes) if k in _live)
        check_scan(t, [("tenant", "=", 2), ("id", "in", [14, 28, 14, 999]),
                       ("v", "<", 10 ** 6), ("s", "!=", "zz")], version=v)
        check_scan(t, [("tenant", "in", [0, 2]), ("id", "=", 10)], version=v,
                   columns=["id", "s"], ordered=True, limit=1)


def test_float_keys_nan_and_signed_zero(engine):
    fs, ds = [1.5, -0.0, NAN, 2.25, -7.0], [0.0, NAN, 3.5]
    rows = [(f, d, i) for i, (f, d) in enumerate((f, d) for f in fs for d in ds)]
    t = make(engine, "kr_float", [("f", "float", False), ("d", "double", False),
                                  ("v", "int", True)], ["f", "d"], rows, bloom="f,d",
             hash_partitions=[{"columns": ["f", "d"], "buckets": 4}])
    probe = [(f, d) for f in fs + [0.0, 9.0] for d in ds + [-0.0, 8.0]]
    probe += [(None, 0.0), (1.5, None), (NAN, NAN), (0.0, -0.0)]
    walk(engine, t, [(1.5, 0.0, 100), (9.0, 8.0, 101)],
         [(NAN, NAN), (-7.0, 0.0), (2.25, 3.5)], [(NAN, NAN, 102)], probe)
    t = engine.table("kr_float")
    assert [r.v for r in t.scan(filters=[("f", "=", 0.0), ("d", "=", -0.0)]).collect()] == [3]


def test_decimal_keys_and_a_declining_sidecar(engine):
    rows = [(Decimal(i * 7) / 4, Decimal(i * 10**12), Decimal(i) * 10**30, i)
            for i in range(-6, 20)]
    t = make(engine, "kr_dec", [("a", "decimal(9,2)", False), ("b", "decimal(18,0)", False),
                                ("c", "decimal(38,0)", False), ("v", "int", True)],
             ["a", "b", "c"], rows, bloom="a,b,c",
             hash_partitions=[{"columns": ["c"], "buckets": 4}])
    probe = [r[:3] for r in rows] + [(Decimal("1.750"), Decimal(10**12), Decimal(10)**30),
                                     (Decimal(100), Decimal(1), Decimal(1)),
                                     (None, Decimal(0), Decimal(0))]
    engine.alter_table("kr_dec").set_property("pk_bloom_cols", "c").apply()
    t = engine.table("kr_dec")
    walk(engine, t, [rows[2][:3] + (50,), (Decimal(100), Decimal(1), Decimal(1), 51)],
         [rows[0][:3], rows[5][:3]], [rows[5]], probe)
    # an int literal equals a decimal key, as Spark compares them
    check_scan(engine.table("kr_dec"), [("a", "=", 7), ("b", "in", [4 * 10**12]),
                                        ("c", "=", Decimal(4) * 10**30)])


def test_date_string_varchar_binary_keys_with_prefix_sidecar(engine):
    day = datetime.date(2020, 1, 1)
    rows = [(f"s{i % 4}", f"v{i}", bytes([i, 255 - i]), day + datetime.timedelta(days=40 * i), i)
            for i in range(16)]
    t = make(engine, "kr_bytes", [("s", "string", False), ("vc", "varchar(10)", False),
                                  ("b", "binary", False), ("dt", "date", False),
                                  ("v", "int", True)],
             ["s", "vc", "b", "dt"], rows, bloom="s",
             hash_partitions=[{"columns": ["s", "b"], "buckets": 4}])
    probe = [r[:4] for r in rows] + [("s1", "v1", b"\x00", day), ("zz", "v1", b"\x01\xfe", day),
                                     ("s1", "v1" + "x" * 20, bytes([1, 254]), day),
                                     ("s0", None, b"", day)]
    walk(engine, t, [rows[1][:4] + (50,), ("new", "v", b"", day, 51)],
         [rows[2][:4], rows[7][:4]], [rows[7]], probe)


def test_timestamp_keys_take_the_spark_arms(engine, spark, monkeypatch):
    """A timestamp is INT96 on disk: the probe verifies in Spark, and a
    keyed scan plans merge-on-read, with exact answers."""
    base = datetime.datetime(2020, 1, 1)
    rows = [(base + datetime.timedelta(days=i, microseconds=i),
             datetime.date(2020, 1, 1) + datetime.timedelta(days=40 * i), i) for i in range(12)]
    t = make(engine, "kr_time", [("ts", "timestamp", False), ("dt", "date", False),
                                 ("v", "int", True)], ["ts", "dt"], rows,
             hash_partitions=[{"columns": ["ts"], "buckets": 4}])
    t.upsert(spark.createDataFrame([rows[1][:2] + (50,)], "ts timestamp, dt date, v int"))
    t = engine.table("kr_time")
    st = t.state()
    probe = [r[:2] for r in rows] + [(base, datetime.date(2019, 1, 1)),
                                     (datetime.datetime(1500, 1, 1), datetime.date(2020, 1, 1)),
                                     (None, datetime.date(2020, 1, 1))]
    live = {(r.ts, r.dt) for r in t._snapshot_df(st).collect()}
    verify = _spy(monkeypatch, "_verify_keys")
    assert t._live_keys(st, probe) == [k in live for k in probe]
    assert verify == [1]
    assert t._live_rows(st, probe, ["v"]) is None
    filters = [("ts", "=", rows[1][0]), ("dt", "=", rows[1][1])]
    assert t._keyed_scan(st, filters, None) is None
    assert [r.v for r in t.scan(filters=filters).collect()] == [50]


def test_composite_key_dead_buckets_ranges_and_unhashable_keys(engine, monkeypatch):
    rows = [(i, i % 100, i % 3, i % 5 == 0, i) for i in range(0, 200, 20)]
    t = make(engine, "kr_int", [("i", "int", False), ("l", "bigint", False),
                                ("sm", "smallint", False), ("bo", "boolean", False),
                                ("v", "int", True)], ["i", "l", "sm", "bo"], rows,
             hash_partitions=[{"columns": ["l"], "buckets": 16}],
             range_partition={"column": "i", "ranges": [[0, 100], [100, 200]]})
    st = t.state()
    live = {tuple(f.partition["hash"]) for f in st.files}
    dead = [(7, n, 0, False) for n in range(100, 200)
            if (tbl.locate(st, {"i": 7, "l": n})["hash"][0],) not in live][:3]
    outside = [(500, 0, 0, True), (-5, 20, 2, False)]
    calls = []
    orig = tbl.Table._read_rows
    monkeypatch.setattr(tbl.Table, "_read_rows",
                        lambda self, st, keys, cand, cols: calls.append(dict(cand))
                        or orig(self, st, keys, cand, cols))
    assert t.scan(filters=[("i", "in", [7, 500]), ("l", "in", [k[1] for k in dead]),
                           ("sm", "=", 0), ("bo", "=", False)]).collect() == []
    assert calls == [{}]  # no candidate file: no data IO
    monkeypatch.undo()
    probe = [r[:4] for r in rows] + dead + outside + [(20, 20, 2, False), (None, 1, 1, True),
                                                      (40, 40, 70000, False)]
    # a bigint past 64 bits is not hashable on the driver: every
    # partition stays a candidate, and the answer is still exact
    walk(engine, t, [rows[1][:4] + (50,), (7, 7, 1, True, 51)],
         [rows[2][:4], rows[6][:4]], [rows[6]], probe, unhashable=[(20, 2**70, 2, False)])


def test_renamed_and_added_columns(engine, spark):
    t = engine.create_table("kr_evolve", [("k", "bigint", False), ("v", "int", True),
                                          ("s", "string", True)], pk=["k"],
                            hash_partitions=[{"columns": ["k"], "buckets": 2}])
    engine.alter_table("kr_evolve").set_property("auto_compact", "false").apply()
    t = engine.table("kr_evolve")
    t.insert(spark.createDataFrame([(k, k, f"s{k}") for k in range(20)], "k bigint, v int, s string"))
    engine.alter_table("kr_evolve").rename_column("v", "w") \
        .add_column("z", "int", default=7).add_column("d", "double").apply()
    t = engine.table("kr_evolve")
    t.upsert(spark.createDataFrame([(3, -3, "u", 1, -0.0), (30, 30, None, None, None)],
                                   "k bigint, w int, s string, z int, d double"))
    t = engine.table("kr_evolve")
    probe = [(k,) for k in (0, 3, 5, 19, 30, 31)]
    check_rows(t, probe)
    rows = check_scan(t, [("k", "in", [0, 3, 5, 30, 31, 3])])
    assert [(r[0], r[1], r[3]) for r in rows] == [(0, 0, 7), (3, -3, 1), (5, 5, 7), (30, 30, None)]
    check_scan(t, [("k", "in", [3, 5]), ("w", ">", 0)], columns=["k", "z"])
    check_scan(t, [("k", "=", 3), ("d", "=", 0.0)])
    for v in range(1, t.version + 1):
        check_rows(t, probe, st=t.state(v))


def _spy(monkeypatch, name):
    calls = []
    orig = getattr(tbl.Table, name)

    def spy(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(tbl.Table, name, spy)
    return calls


def _small(engine, name, cols=(("v", "int"),), rows=None):
    spark = engine.spark
    t = engine.create_table(name, [("k", "bigint", False)] + [(c, ty, True) for c, ty in cols],
                            pk=["k"], hash_partitions=[{"columns": ["k"], "buckets": 2}])
    engine.alter_table(name).set_property("auto_compact", "false") \
        .set_property("pk_bloom_cols", "k").apply()
    t = engine.table(name)
    ddl = "k bigint, " + ", ".join(f"{c} {ty}" for c, ty in cols)
    t.insert(spark.createDataFrame(rows or [(k, k) for k in range(20)], ddl))
    t.upsert(spark.createDataFrame((rows or [(k, k) for k in range(20)])[3:5], ddl))
    return engine.table(name)


def _declined(monkeypatch, t, st=None, probe_declines=True):
    """The scan takes ``_snapshot_df`` and the probe (when
    ``probe_declines``) the broadcast-join verify, with the same
    answers."""
    st = st or t.state()
    filters = [("k", "in", [1, 3, 4, 99])]
    monkeypatch.setattr(t, "state", lambda *a, **kw: st)
    snap, verify = _spy(monkeypatch, "_snapshot_df"), _spy(monkeypatch, "_verify_keys")
    keys = [(1,), (3,), (4,), (99,)]
    assert t._live_rows(st, keys, st.schema.names) is None
    assert t._live_keys(st, keys) == [True, True, True, False]
    assert len(verify) == probe_declines
    got = sorted(map(tuple, t.scan(filters=filters).collect()))
    assert snap
    monkeypatch.undo()
    want = sorted(map(tuple, t._snapshot_df(st, filters).collect()))
    assert got == want and len(got) == 3
    return got


def test_declined_byte_bound(engine, monkeypatch):
    t = _small(engine, "kr_bytes_bound")
    monkeypatch.setattr(tbl.Table, "PRESENCE_PARTITION_BYTES", 0)
    _declined(monkeypatch, t)


def test_declined_timestamp_column(engine, spark, monkeypatch):
    ts = datetime.datetime(2021, 5, 1, 12, 30)
    t = _small(engine, "kr_ts", cols=(("ts", "timestamp"),),
               rows=[(k, ts + datetime.timedelta(hours=k)) for k in range(20)])
    _declined(monkeypatch, t, probe_declines=False)
    # without the timestamp in the projection the driver answers
    assert [r.k for r in t.scan(columns=["k"], filters=[("k", "=", 3)]).collect()] == [3]
    assert t._keyed_scan(t.state(), [("k", "=", 3)], ["k"]) is not None


def test_declined_type_change(engine, monkeypatch):
    t = _small(engine, "kr_type")
    st = t.state()
    # the files hold v as int; a current schema declaring bigint casts on read
    cur = dataclasses.replace(st.schema, version=st.schema.version + 1, columns=[
        dataclasses.replace(c, type="bigint") if c.name == "v" else c for c in st.schema.columns])
    st2 = dataclasses.replace(st, schema=cur)
    # the probe reads the key alone, whose type stands
    got = _declined(monkeypatch, t, st=st2, probe_declines=False)
    assert [type(r[1]) for r in got] == [int] * 3


def test_declined_vector_sidecolumns(engine, spark, monkeypatch):
    name = "kr_vec"
    t = engine.create_table(name, [("k", "bigint", False), ("embedding", "array<float>", True)],
                            pk=["k"])
    engine.alter_table(name).set_property("vector_quantize_cols", "embedding") \
        .set_property("auto_compact", "false").apply()
    t = engine.table(name)
    t.insert(spark.createDataFrame([(k, [float(k), 1.0]) for k in range(20)],
                                   "k bigint, embedding array<float>"))
    _declined(monkeypatch, engine.table(name))


def test_declined_store_other_than_local(spark, monkeypatch):
    engine = Engine(spark, "memory://keyed_read")
    _declined(monkeypatch, _small(engine, "kr_mem"))


_groups = itertools.count()


def jobs(spark, fn):
    """(Spark jobs ``fn()`` ran in this thread, its result)."""
    sc = spark.sparkContext
    group = f"keyed-read-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.mark.parametrize("bloom", [None, "k"])
def test_point_reads_and_small_deletes_run_no_verify_job(engine, spark, bloom):
    name = f"kr_jobs_{bloom or 'plain'}"
    t = make(engine, name, [("k", "bigint", False), ("v", "int", True)], ["k"],
             [(i, i) for i in range(100)], bloom=bloom,
             hash_partitions=[{"columns": ["k"], "buckets": 2}])
    for state in ("clean", "dirty"):
        for filters in ([("k", "=", 42)], [("k", "in", [5, 6, 7, 500, 42])]):
            n, df = jobs(spark, lambda: t.scan(filters=filters))
            m, rows = jobs(spark, df.collect)
            assert (n, m) == (0, 0), (state, filters)
            assert {r.k for r in rows} >= {42}
        t.upsert(spark.createDataFrame([(42, -1), (7, -7)], "k bigint, v int"))
        t = engine.table(name)
    n, _ = jobs(spark, lambda: t.delete(spark.createDataFrame(
        [(k,) for k in (1, 2, 3, 42, 99)], "k bigint")))
    assert n == 1  # the key collect
    assert engine.table(name).scan(filters=[("k", "in", [1, 2, 3, 42, 99, 7])]).count() == 1


def test_a_timestamp_projection_runs_the_spark_plan(engine, spark):
    ts = datetime.datetime(2021, 5, 1)
    t = _small(engine, "kr_ts_jobs", cols=(("ts", "timestamp"),),
               rows=[(k, ts) for k in range(20)])
    n, df = jobs(spark, lambda: t.scan(filters=[("k", "=", 3)]))
    m, rows = jobs(spark, df.collect)
    assert n + m > 0 and [r.k for r in rows] == [3]

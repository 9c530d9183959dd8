"""Differential gate for the driver write step (``Table._driver_write``).

Twin tables get the same operations: one writes its delta batches on
the driver, the other with its driver step switched off, so every batch
takes the Spark write step (``_write_files``). After each operation the
twins must agree on the snapshot at every version, the manifest entries
(partition, rows, ``min_pk``/``max_pk``, ``dmark``), the file contents
in their order, the parquet column descriptors and footer metadata, the
presence sidecars and the key probe's answers; malformed batches must
raise the same exception classes. Columns of every type of
``tests/test_all_types.py`` the driver step accepts are covered; every
type and table feature it declines must still reach the Spark writer.
"""

from __future__ import annotations

import datetime
import os
import re
from decimal import Decimal

import pyarrow.parquet as pq
import pytest

import kudu_spark.table as tbl
from kudu_spark.engine import Engine
from kudu_spark.plans import presence
from kudu_spark.table import Table
from kudu_spark.writer import Session

ACCEPTED = [
    ("c1_i", "int"), ("c2_s", "string"), ("c4_long", "bigint"), ("c5_bool", "boolean"),
    ("c6_short", "smallint"), ("c8_binary", "binary"), ("c10_byte", "tinyint"),
    ("c14_varchar", "varchar(10)"), ("c15_date", "date"),
    ("c16_int_array", "array<int>"), ("c17_str_array", "array<string>"),
]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    return Engine(spark, str(tmp_path_factory.mktemp("driver_write")))


def twins(engine, name, schema, pk, props=None, **create):
    """(driver-writing table, Spark-writing table) with the same
    definition; auto-compaction off so files stay comparable."""
    out = []
    for side in ("drv", "spk"):
        engine.create_table(f"{name}_{side}", schema, pk=pk, **create)
        alter = engine.alter_table(f"{name}_{side}").set_property("auto_compact", "false")
        for k, v in (props or {}).items():
            alter = alter.set_property(k, v)
        alter.apply()
        out.append(engine.table(f"{name}_{side}"))
    out[1]._driver_write = lambda *a, **k: None  # every batch takes the Spark step
    return out


def upsert(t, rows):
    s = Session(t)
    for r in rows:
        s.upsert(r)
    s.flush()


def files_of(t, version):
    return sorted((f for f in t.state(version).files if f.seq >> 20 == version),
                  key=lambda f: (f.partition["hash"], str(f.partition["range"])))


def descriptors(path):
    sch = pq.ParquetFile(path).schema
    return [(c.path, c.physical_type, c.length, str(c.logical_type), c.max_definition_level,
             c.max_repetition_level) for c in sch]


def same_descriptors(drv_path, spk_path):
    """The column descriptors agree but for the one documented
    difference: a decimal of precision <= 18 is FIXED_LEN_BYTE_ARRAY in
    a driver-written file, INT32/INT64 in a Spark-written one. Wider
    decimals agree in full."""
    a, b = descriptors(drv_path), descriptors(spk_path)
    assert [d[0] for d in a] == [d[0] for d in b]
    for x, y in zip(a, b):
        m = re.match(r"Decimal\(precision=(\d+)", x[3])
        if m and int(m.group(1)) <= 18:
            assert x[1] == "FIXED_LEN_BYTE_ARRAY" and y[1] in ("INT32", "INT64"), (x, y)
            x, y = x[:1] + x[3:], y[:1] + y[3:]
        assert x == y


def footer_meta(path):
    """Spark's footer keys (a pyarrow-written file also holds its own
    ARROW:schema)."""
    return {k: v for k, v in pq.ParquetFile(path).metadata.metadata.items()
            if k.startswith(b"org.apache.spark.")}


def agree(drv, spk, probe):
    """The twins agree on everything at every version."""
    assert drv.version == spk.version
    for v in range(1, drv.version + 1):
        a = sorted(map(repr, drv.scan(version=v).collect()))
        assert a == sorted(map(repr, spk.scan(version=v).collect())), v
    v = drv.version
    fa, fb = files_of(drv, v), files_of(spk, v)
    assert [(f.partition, f.rows, f.min_pk, f.max_pk, f.dmark, f.kind) for f in fa] == \
        [(f.partition, f.rows, f.min_pk, f.max_pk, f.dmark, f.kind) for f in fb]
    for a, b in zip(fa, fb):
        pa_, pb = os.path.join(drv.root, a.path), os.path.join(spk.root, b.path)
        same_descriptors(pa_, pb)
        assert footer_meta(pa_) == footer_meta(pb)
        assert pq.read_table(pa_).to_pylist() == pq.read_table(pb).to_pylist()
        assert bool(a.bloom) == bool(b.bloom)
        if a.bloom:
            keep = ("rows", "nshards", "del_rows", "del_nshards", "mixed", "del_unindexed")
            ma = presence.read_meta(os.path.join(drv.root, a.bloom))
            mb = presence.read_meta(os.path.join(spk.root, b.bloom))
            assert {k: ma.get(k) for k in keep} == {k: mb.get(k) for k in keep}
    assert drv._live_keys(drv.state(), probe) == spk._live_keys(spk.state(), probe)


def errors(drv, spk, row):
    got = []
    for t in (drv, spk):
        with pytest.raises(Exception) as ei:
            upsert(t, [row])
        got.append(type(ei.value))
    assert got[0] is got[1], got
    assert drv.version == spk.version


def full_row(k):
    return {
        "key": k, "c1_i": k * 2, "c2_s": f"str{k}", "c4_long": k * 10_000_000_000,
        "c5_bool": k % 2 == 0, "c6_short": k % 1000, "c8_binary": bytearray([k % 256, 7]),
        "c10_byte": k % 100, "c14_varchar": f"v{k}-truncated-here",
        "c15_date": datetime.date(2020, 1, 1) + datetime.timedelta(days=k % 365),
        "c16_int_array": [k, None], "c17_str_array": [f"a{k}", None], "nn": k,
    }


def test_every_accepted_type_writes_as_spark_does(engine, spark):
    schema = ([("key", "int", False)] + [(n, t, True) for n, t in ACCEPTED]
              + [("nn", "int", False), ("dflt", "string", False)])
    drv, spk = twins(engine, "types", schema, ["key"], {"pk_bloom_cols": "key"},
                     hash_partitions=[{"columns": ["key"], "buckets": 3}],
                     defaults={"dflt": "fill"})
    for t in (drv, spk):
        t.insert(spark.createDataFrame(
            [(k, k, f"s{k}", k, True, 1, b"x", 1, "v", datetime.date(2021, 1, 1),
              [1], ["a"], k, "base") for k in range(20)],
            "key int, c1_i int, c2_s string, c4_long bigint, c5_bool boolean, "
            "c6_short smallint, c8_binary binary, c10_byte tinyint, c14_varchar string, "
            "c15_date date, c16_int_array array<int>, c17_str_array array<string>, "
            "nn int, dflt string"))
    probe = [(k,) for k in range(-2, 30)]
    # full rows, rows with NULL and absent cells, an in-batch duplicate
    # (the last write wins) and new keys
    upsert(drv, [full_row(k) for k in (3, 5, 21, 22)])
    upsert(spk, [full_row(k) for k in (3, 5, 21, 22)])
    agree(drv, spk, probe)
    batch = [{"key": 4, "nn": 1, "c2_s": None}, {"key": 6, "nn": 2, "c15_date": None},
             full_row(25), {"key": 4, "nn": 9, "c8_binary": b"\x00\xff"},
             {"key": 26, "nn": 3, "c14_varchar": "ab"}]
    for t in (drv, spk):
        upsert(t, batch)
    agree(drv, spk, probe)
    # tombstones, written from the keys the small DELETE path holds
    keys = spark.createDataFrame([(k,) for k in (4, 21, 7)], "key int")
    for t in (drv, spk):
        t.delete(keys)
    agree(drv, spk, probe)
    errors(drv, spk, {"key": None, "nn": 1})  # NULL key
    errors(drv, spk, {"key": 40, "nn": None})  # NULL non-nullable cell
    errors(drv, spk, {"key": 41, "nn": 1, "c1_i": "x"})  # wrong Python type
    errors(drv, spk, {"key": 42, "nn": 1, "c10_byte": 1000})  # out of range
    agree(drv, spk, probe)


def test_composite_key_range_and_hash_partitions(engine, spark):
    schema = [("a", "int", False), ("b", "string", False), ("v", "bigint", True)]
    drv, spk = twins(engine, "ranged", schema, ["a", "b"], {"cluster_by": "v"},
                     hash_partitions=[{"columns": ["b"], "buckets": 2}],
                     range_partition={"column": "a", "ranges": [[0, 100], [100, 200]]})
    for t in (drv, spk):
        t.insert(spark.createDataFrame([(a, f"b{a % 5}", a) for a in range(0, 200, 7)],
                                       "a int, b string, v bigint"))
    probe = [(a, f"b{a % 5}") for a in range(0, 210, 7)] + [(1, "b1"), (-1, "b0")]
    rows = [{"a": a, "b": f"b{a % 5}", "v": -a} for a in (7, 14, 105, 150, 199, 3)]
    rows.append({"a": 7, "b": "b2", "v": None})
    for t in (drv, spk):
        upsert(t, rows)
    agree(drv, spk, probe)
    for t in (drv, spk):
        t.delete(spark.createDataFrame([(14, "b4"), (105, "b0")], "a int, b string"))
    agree(drv, spk, probe)
    errors(drv, spk, {"a": 500, "b": "x", "v": 1})  # in no range
    errors(drv, spk, {"a": None, "b": "x", "v": 1})  # NULL key in the range column


@pytest.mark.parametrize("schema,props,create,row", [
    ([("k", "int", False), ("a", "array<decimal(12,2)>", True)], {}, {}, {}),
    ([("k", "int", False), ("ts", "timestamp", True)], {}, {}, {}),
    # float and double cells in an upsert; a tombstone's are all NULL
    ([("k", "int", False), ("f", "float", True)], {}, {}, {}),
    ([("k", "int", False), ("d", "double", True)], {}, {}, {}),
    ([("k", "int", False), ("a", "array<double>", True)], {}, {}, {}),
    ([("k", "int", False), ("v", "int", True)], {"cluster_by": "zorder(k, v)"}, {}, {}),
    ([("k", "int", False), {"name": "v", "type": "int", "encoding": "PLAIN"}], {}, {}, {}),
    ([("k", "int", False), ("v", "int", True)], {}, {"non_unique_pk": True}, {}),
    # a batch setting an immutable column; tombstones do not set it
    ([("k", "int", False), ("v", "int", True)], {}, {"immutable_cols": ["v"]}, {"v": 1}),
])
def test_declined_batches_reach_the_spark_writer(engine, spark, monkeypatch, schema, props,
                                                 create, row):
    name = f"declined_{len(engine.list_tables())}"
    t = engine.create_table(name, schema, pk=["k"], **create)
    alter = engine.alter_table(name).set_property("auto_compact", "false")
    for k, v in props.items():
        alter = alter.set_property(k, v)
    alter.apply()
    t = engine.table(name)
    floating = any(isinstance(c, tuple) and c[1] in ("float", "double", "array<double>")
                   for c in schema)
    calls = []
    real = Table._write_files
    monkeypatch.setattr(Table, "_write_files",
                        lambda self, *a, **k: calls.append(1) or real(self, *a, **k))
    if create.get("non_unique_pk"):
        t.insert(spark.createDataFrame([(1, 1), (2, 2)], "k int, v int"))
        calls.clear()
        ids = [r.auto_incrementing_id for r in t.scan().orderBy("k").collect()]
        upsert(t, [{"k": k, "v": 9, "auto_incrementing_id": i}
                   for k, i in zip((1, 2), ids)])
        assert calls and t.count() == 2
        return
    upsert(t, [{"k": 1, **row}, {"k": 2, **row}])
    assert len(calls) == 1 and t.count() == 2
    t.delete(spark.createDataFrame([(1,)], "k int"))
    driver_tombstones = bool(row) or floating
    assert len(calls) == 2 - driver_tombstones and t.count() == 1


def _jobs(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("bloom", [False, True])
def test_session_upsert_runs_no_spark_job(engine, spark, bloom):
    name = f"nojob_{int(bloom)}"
    t = engine.create_table(name, [("k", "bigint", False), ("v", "int", True),
                                   ("s", "string", True)], pk=["k"],
                            hash_partitions=[{"columns": ["k"], "buckets": 2}])
    alter = engine.alter_table(name).set_property("auto_compact", "false")
    if bloom:
        alter = alter.set_property("pk_bloom_cols", "k")
    alter.apply()
    t = engine.table(name)
    t.insert(spark.range(100).selectExpr("id AS k", "CAST(id AS int) AS v", "'s' AS s"))
    rows = [{"k": k, "v": -k, "s": "u"} for k in (5, 6, 500, 501)]
    assert _jobs(spark, lambda: upsert(t, rows), f"nojob-{name}") == 0
    deltas = [f for f in t.state().files if f.kind == "delta"]
    assert deltas and all(bool(f.bloom) == bloom for f in deltas)
    # a driver-written delta file carries no parquet bloom filter
    jvm = spark._jvm
    for f in deltas:
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path("file://" + os.path.join(t.root, f.path)),
            spark._jsc.hadoopConfiguration())
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            cols = reader.getFooter().getBlocks().get(0).getColumns()
            assert all(c.getBloomFilterOffset() < 0 for c in cols)
        finally:
            reader.close()
    assert sorted((r.k, r.v) for r in t.scan(filters=[("k", "in", [5, 500, 7])]).collect()) \
        == [(5, -5), (7, 7), (500, -500)]


def test_decimal_session_upsert_and_delete_run_no_spark_write_job(engine, spark):
    t = engine.create_table("nojob_dec", [("k", "bigint", False), ("n", "int", False),
                                          ("p", "decimal(12,2)", True),
                                          ("q", "decimal(25,4)", True)],
                            pk=["k", "n"], hash_partitions=[{"columns": ["k"], "buckets": 4}])
    engine.alter_table("nojob_dec").set_property("auto_compact", "false").apply()
    t = engine.table("nojob_dec")
    t.insert(spark.range(2_400).selectExpr(
        "id DIV 4 AS k", "CAST(id % 4 AS int) AS n", "CAST(id / 100 AS decimal(12,2)) AS p",
        "CAST(id AS decimal(25,4)) AS q"))
    rows = [{"k": k, "n": 0, "p": Decimal("1.25"), "q": Decimal("-7.5")}
            for k in (1, 2, 3, 4000)]
    assert _jobs(spark, lambda: upsert(t, rows), "nojob-dec") == 0
    # 600 keys from a Python-built frame, as olap_churn deletes them:
    # collecting the caller's frame is the one job
    doomed = spark.createDataFrame([(i // 4, i % 4) for i in range(0, 2_400, 4)][:600],
                                   "k bigint, n int")
    assert _jobs(spark, lambda: t.delete(doomed), "nojob-dec-del") == 1
    assert t.count() == 2_400 + 1 - 600
    assert t.scan(filters=[("k", "=", 4000), ("n", "=", 0)]).collect()[0].q == Decimal("-7.5000")


def dec_row(k):
    return {"k": Decimal(k).scaleb(-2) + Decimal("1000.00"), "d5": Decimal(k % 999).scaleb(-2),
            "d12": Decimal(k * 12345).scaleb(-2), "d25": Decimal(k * 10 ** 12 + 7).scaleb(-4),
            "s": f"s{k}"}


def test_decimal_columns_write_as_spark_does(engine, spark):
    schema = [("k", "decimal(12,2)", False), ("d5", "decimal(5,2)", True),
              ("d12", "decimal(12,2)", True), ("d25", "decimal(25,4)", True),
              ("dflt", "decimal(12,2)", False), ("s", "string", True)]
    drv, spk = twins(engine, "decimals", schema, ["k"], {"pk_bloom_cols": "k"},
                     hash_partitions=[{"columns": ["k"], "buckets": 3}],
                     defaults={"dflt": 7})
    base = [tuple(dec_row(k).values())[:4] + (Decimal("1.00"), "base") for k in range(30)]
    for t in (drv, spk):
        t.insert(spark.createDataFrame(
            base, "k decimal(12,2), d5 decimal(5,2), d12 decimal(12,2), d25 decimal(25,4), "
                  "dflt decimal(12,2), s string"))
    probe = [(Decimal(k).scaleb(-2) + Decimal("1000.00"),) for k in range(-2, 45)]
    calls = []
    real = drv._write_files
    drv._write_files = lambda *a, **k: calls.append(1) or real(*a, **k)
    # full rows (the default column absent), NULL cells, new keys, an
    # in-batch duplicate, values with fewer fraction digits than the
    # scale, trailing zeros past it, a negative zero and the extremes
    batch = [dec_row(k) for k in (3, 5, 31, 32)]
    batch += [{"k": Decimal("1004.00"), "d5": None, "d12": Decimal("-0.00")},
              {**dec_row(33), "d5": Decimal("999.99"), "d12": Decimal("-99999999.99"),
               "d25": Decimal("-" + "9" * 21 + ".9999")},
              {"k": Decimal("1004.00"), "d25": Decimal("1.5000000"), "d12": Decimal("1E+3")}]
    for t in (drv, spk):
        upsert(t, batch)
    agree(drv, spk, probe)
    for t in (drv, spk):
        upsert(t, [{"k": Decimal("1006.0"), "s": "only the key"}, dec_row(40)])
    agree(drv, spk, probe)
    for t in (drv, spk):
        upsert(t, [{**dec_row(k), "dflt": Decimal(k).scaleb(-1)} for k in (8, 41)])
    agree(drv, spk, probe)
    # tombstones, written from the keys the small DELETE path holds
    keys = spark.createDataFrame([(Decimal(k).scaleb(-2) + Decimal("1000.00"),)
                                  for k in (4, 31, 7)], "k decimal(12,2)")
    for t in (drv, spk):
        t.delete(keys)
    agree(drv, spk, probe)
    assert not calls  # every batch took the driver step
    errors(drv, spk, {"k": None, "d5": Decimal("1.00")})  # NULL key
    errors(drv, spk, {"k": Decimal("1050.00"), "dflt": None})  # NULL non-nullable cell
    errors(drv, spk, {"k": Decimal("1051.00"), "d5": 1.5})  # a float, not a Decimal
    errors(drv, spk, {"k": 1052, "d5": Decimal("1.00")})  # an int key
    agree(drv, spk, probe)


def outcome(t, row):
    """What a one-row upsert did: the stored row, or the exception
    class it raised."""
    try:
        upsert(t, [row])
    except Exception as e:  # noqa: BLE001
        return type(e)
    return sorted(map(repr, t.scan().collect()))


@pytest.mark.parametrize("cell", [
    {"d5": Decimal("1.005")},  # rounds at scale 2
    {"d5": Decimal("-2.499999")},
    {"d5": Decimal("1000.00")},  # overflows decimal(5,2)
    {"d25": Decimal("1E+21")},  # overflows decimal(25,4)
    {"d12": Decimal("NaN")},
    {"d12": Decimal("-Infinity")},
])
def test_decimals_the_cast_would_change_reach_the_spark_writer(engine, spark, cell):
    name = f"dec_cast_{len(engine.list_tables())}"
    schema = [("k", "int", False), ("d5", "decimal(5,2)", True),
              ("d12", "decimal(12,2)", True), ("d25", "decimal(25,4)", True)]
    drv, spk = twins(engine, name, schema, ["k"],
                     hash_partitions=[{"columns": ["k"], "buckets": 2}])
    calls = []
    real = drv._write_files
    drv._write_files = lambda *a, **k: calls.append(1) or real(*a, **k)
    row = {"k": 1, **cell}
    assert outcome(drv, row) == outcome(spk, row)
    assert calls == [1]  # the driver step declined the batch
    assert drv.version == spk.version


def test_tombstones_on_float_and_double_tables(engine, spark):
    schema = [("k", "int", False), ("d", "double", True), ("f", "float", True),
              ("a", "array<double>", True)]
    drv, spk = twins(engine, "floats", schema, ["k"], {"pk_bloom_cols": "k"},
                     hash_partitions=[{"columns": ["k"], "buckets": 2}])
    nan = float("nan")
    for t in (drv, spk):
        t.insert(spark.createDataFrame(
            [(k, nan if k % 3 == 0 else k / 2, -0.0, [nan, 1.0]) for k in range(12)],
            "k int, d double, f float, a array<double>"))
        upsert(t, [{"k": 3, "d": nan}, {"k": 20, "d": 1.5}])  # upserts: Spark's writer
    probe = [(k,) for k in range(-1, 25)]
    calls = []
    real = drv._write_files
    drv._write_files = lambda *a, **k: calls.append(1) or real(*a, **k)
    for t in (drv, spk):
        t.delete(spark.createDataFrame([(k,) for k in (3, 4, 20)], "k int"))
    assert not calls  # the tombstones took the driver step
    agree(drv, spk, probe)
    assert drv.count() == 10
    # NaN sorts above every value
    assert sorted(r.k for r in drv.scan(filters=[("d", ">=", 1.0)]).collect()) == \
        [0, 2, 5, 6, 7, 8, 9, 10, 11]
    # a double key: its tombstones carry the key, which may be NaN
    t = engine.create_table("floats_pk", [("k", "double", False), ("v", "int", True)], pk=["k"])
    engine.alter_table("floats_pk").set_property("auto_compact", "false").apply()
    t = engine.table("floats_pk")
    t.insert(spark.createDataFrame([(1.5, 1), (nan, 2)], "k double, v int"))
    calls.clear()
    t._write_files = lambda *a, **k: calls.append(1) or Table._write_files(t, *a, **k)
    t.delete(spark.createDataFrame([(nan,)], "k double"))
    assert calls == [1] and t.count() == 1


@pytest.mark.parametrize("ptype,spark_physical", [
    ("decimal(5,2)", "INT32"), ("decimal(12,2)", "INT64"), ("decimal(25,4)", "FIXED_LEN_BYTE_ARRAY"),
])
def test_stat_bounds_decode_every_decimal_encoding(engine, spark, ptype, spark_physical):
    name = f"dec_pk_{ptype.split('(')[1].split(',')[0]}"
    drv, spk = twins(engine, name, [("k", ptype, False), ("v", "int", True)], ["k"])
    keys = [Decimal("-3.50"), Decimal("0.01"), Decimal("12.5"), Decimal("-0.00"),
            Decimal("999.99")]
    for t in (drv, spk):
        upsert(t, [{"k": k, "v": 1} for k in keys])
    fa, fb = files_of(drv, drv.version), files_of(spk, spk.version)
    assert len(fa) == len(fb) == 1
    got = []
    for t, f in ((drv, fa[0]), (spk, fb[0])):
        md = pq.ParquetFile(os.path.join(t.root, f.path)).metadata
        col = md.row_group(0).column(0)
        assert col.path_in_schema == "k"
        got.append((col.physical_type, tbl._stat_bounds(col.statistics, ptype)))
    assert got[0][0] == "FIXED_LEN_BYTE_ARRAY" and got[1][0] == spark_physical
    assert got[0][1] == got[1][1] == (Decimal("-3.50"), Decimal("999.99"))
    lo, hi = got[0][1]
    assert (fa[0].min_pk, fa[0].max_pk) == (fb[0].min_pk, fb[0].max_pk) == ([str(lo)], [str(hi)])


def test_decimal_scans_over_mixed_files_match_a_model(engine, spark):
    """Decimal predicates over driver-written (FLBA), Spark-written
    (INT32/INT64) and compacted files of one table, with Spark's
    vectorized reader on and off, against a dict model."""
    name = "dec_scan"
    engine.create_table(name, [("k", "int", False), ("dk", "decimal(12,2)", False),
                               ("d5", "decimal(5,2)", True), ("d25", "decimal(25,4)", True)],
                        pk=["k", "dk"], hash_partitions=[{"columns": ["k"], "buckets": 2}])
    engine.alter_table(name).set_property("auto_compact", "false").apply()
    t = engine.table(name)
    model: dict = {}

    def row(k, salt):
        return {"k": k, "dk": Decimal(k % 7 * 150 + salt).scaleb(-2),
                "d5": None if (k + salt) % 5 == 0 else Decimal((k * 37 + salt) % 2000 - 1000)
                .scaleb(-1).quantize(Decimal("0.01")),
                "d25": Decimal(k * 10 ** 15 - salt).scaleb(-4)}

    def driver_upsert(rows):
        upsert(t, rows)
        model.update({(r["k"], r["dk"]): r for r in rows})

    def spark_upsert(rows):
        cols = ["k", "dk", "d5", "d25"]
        t.upsert(spark.createDataFrame([tuple(r[c] for c in cols) for r in rows],
                                       "k int, dk decimal(12,2), d5 decimal(5,2), "
                                       "d25 decimal(25,4)"))
        model.update({(r["k"], r["dk"]): r for r in rows})

    spark_upsert([row(k, 0) for k in range(40)])
    driver_upsert([row(k, 0) | {"d5": Decimal("-9.99")} for k in range(0, 40, 3)])
    t.compact()
    assert all(f.kind == "base" for f in t.state().files)
    spark_upsert([row(k, 3) for k in range(30, 50)])
    driver_upsert([row(k, 0) | {"d25": Decimal("0.0001")} for k in range(5, 60, 4)])
    gone = [(k, row(k, 0)["dk"]) for k in (5, 9, 12)]
    t.delete(spark.createDataFrame(gone, "k int, dk decimal(12,2)"))
    for key in gone:
        model.pop(key, None)
    physical = {(f.kind, pq.ParquetFile(os.path.join(t.root, f.path)).schema.column(1)
                 .physical_type) for f in t.state().files}
    assert physical == {("base", "INT64"), ("delta", "INT64"),
                        ("delta", "FIXED_LEN_BYTE_ARRAY")}

    cases = [
        ([("d5", "<", Decimal("-5.00"))], lambda r: r["d5"] is not None and r["d5"] < -5),
        ([("dk", ">=", Decimal("3.00")), ("dk", "<=", Decimal("6.01"))],
         lambda r: Decimal(3) <= r["dk"] <= Decimal("6.01")),
        ([("d5", "=", Decimal("-9.99"))], lambda r: r["d5"] == Decimal("-9.99")),
        ([("d25", "in", [Decimal("0.0001"), Decimal(10 ** 11).scaleb(-4) * 31])],
         lambda r: r["d25"] in (Decimal("0.0001"), Decimal(10 ** 11).scaleb(-4) * 31)),
        ([("dk", "=", Decimal("4.53"))], lambda r: r["dk"] == Decimal("4.53")),
    ]
    sql = [("d5 BETWEEN -50.0 AND 20.5",
            lambda r: r["d5"] is not None and Decimal("-50") <= r["d5"] <= Decimal("20.5")),
           ("dk IN (0.00, 1.50, 6.03)", lambda r: r["dk"] in (0, Decimal("1.5"), Decimal("6.03")))]

    def check(cols=("k", "dk", "d5", "d25")):
        for vec in ("true", "false"):
            spark.conf.set("spark.sql.parquet.enableVectorizedReader", vec)
            try:
                for filters, keep in cases:
                    tbl._evict_key_frames(t.root)
                    got = sorted(tuple(r) for r in t.scan(columns=list(cols),
                                                          filters=filters).collect())
                    want = sorted(tuple(r[c] for c in cols) for r in model.values() if keep(r))
                    assert got == want, (vec, filters)
                for where, keep in sql:
                    tbl._evict_key_frames(t.root)
                    got = sorted(tuple(r) for r in engine.sql(
                        f"SELECT {', '.join(cols)} FROM {name} WHERE {where}").collect())
                    want = sorted(tuple(r[c] for c in cols) for r in model.values() if keep(r))
                    assert got == want, (vec, where)
            finally:
                spark.conf.unset("spark.sql.parquet.enableVectorizedReader")

    check()
    # an added decimal column with a default and a renamed one: old
    # files miss the first and hold the second under its old name
    engine.alter_table(name).add_column("dn", "decimal(12,2)", nullable=False, default=3) \
        .rename_column("d5", "d5r").apply()
    t = engine.table(name)
    for r in model.values():
        r["dn"] = Decimal("3.00")
        r["d5r"] = r.pop("d5")
    fresh = [row(k, 9) for k in range(55, 62)]
    for r in fresh:
        r["d5r"] = r.pop("d5")
    driver_upsert(fresh)
    for r in fresh:
        r["dn"] = Decimal("3.00")  # the default fills the absent cell
    driver_upsert([{**model[(1, row(1, 0)["dk"])], "dn": Decimal("-1.5")}])
    cases = [([("d5r" if c == "d5" else c, op, v) for c, op, v in f],
              lambda r, keep=keep: keep({**r, "d5": r["d5r"]})) for f, keep in cases]
    cases.append(([("dn", "<", Decimal("3.00"))], lambda r: r["dn"] < 3))
    cases.append(([("dn", "=", Decimal("3"))], lambda r: r["dn"] == 3))
    sql = [("d5r BETWEEN -50.0 AND 20.5", lambda r: r["d5r"] is not None
            and Decimal("-50") <= r["d5r"] <= Decimal("20.5")),
           ("dn IN (3, -1.5)", lambda r: r["dn"] in (3, Decimal("-1.5")))]
    check(("k", "dk", "d5r", "d25", "dn"))

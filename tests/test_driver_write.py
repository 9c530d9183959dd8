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
from decimal import Decimal

import pyarrow.parquet as pq
import pytest

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
    return [(c.path, c.physical_type, str(c.logical_type), c.max_definition_level,
             c.max_repetition_level) for c in sch]


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
        assert descriptors(pa_) == descriptors(pb)
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
    ([("k", "int", False), ("d", "decimal(12,2)", True)], {}, {}, {}),
    ([("k", "int", False), ("ts", "timestamp", True)], {}, {}, {}),
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
    assert len(calls) == (1 if row else 2) and t.count() == 1


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


def test_decimal_table_upsert_runs_the_spark_writer(engine, spark):
    t = engine.create_table("nojob_dec", [("k", "bigint", False), ("p", "decimal(12,2)", True)],
                            pk=["k"], hash_partitions=[{"columns": ["k"], "buckets": 2}])
    engine.alter_table("nojob_dec").set_property("auto_compact", "false").apply()
    t = engine.table("nojob_dec")
    rows = [{"k": k, "p": Decimal("1.25")} for k in (1, 2, 3, 4)]
    assert _jobs(spark, lambda: upsert(t, rows), "nojob-dec") > 0
    assert t.count() == 4

"""Differential gate for the driver-planned key probe
(``Table._live_keys``): for every hashable PK type, composite keys,
NULL keys, keys routed to no live bucket or outside every range,
duplicates in the batch, clean and dirty table states, and tables with
and without presence sidecars (including sidecars that decline), its
answer must equal the Spark-side probe it replaces for small batches,
``df ⋉ _existing_pks``, and the unpruned truth ``df ⋉ to_df()``."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

import kudu_spark.table as tbl
from kudu_spark.engine import Engine
from kudu_spark.errors import RowNotFoundError

NAN = float("nan")


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    return Engine(spark, str(tmp_path_factory.mktemp("key_probe")))


def _ddl(t) -> str:
    sch = t.state().schema
    return ", ".join(f"`{c}` {sch.col(c).type}" for c in sch.pk).replace(
        "varchar(10)", "string")


def check(t, keys: list[tuple]) -> list[bool]:
    """_live_keys(keys) against the Spark-side probe and the truth."""
    spark = t.spark
    st = t.state()
    pk = st.schema.pk
    kdf = spark.createDataFrame([k + (i,) for i, k in enumerate(keys)],
                                _ddl(t) + ", __i bigint")

    def answer(df):
        hit = {r[0] for r in df.select("__i").collect()}
        return [i in hit for i in range(len(keys))]

    got = t._live_keys(st, keys)
    spark_side = answer(kdf.join(t._existing_pks(st, kdf), on=pk, how="left_semi"))
    truth = answer(kdf.join(t.to_df().select(*pk), on=pk, how="left_semi"))
    assert spark_side == truth, [k for k, a, b in zip(keys, spark_side, truth) if a != b]
    assert got == truth, [k for k, a, b in zip(keys, got, truth) if a != b]
    return got


def make(engine, name, cols, pk, rows, bloom=None, **part):
    t = engine.create_table(name, cols, pk=pk, **part)
    alter = engine.alter_table(name).set_property("auto_compact", "false")
    if bloom:
        alter = alter.set_property("pk_bloom_cols", bloom)
    alter.apply()
    t = engine.table(name)
    t.insert(engine.spark.createDataFrame(rows, _ddl(t) + ", v int"))
    return engine.table(name)


def churn(engine, t, upsert_rows, delete_keys, reinsert_rows, probe):
    """Check ``probe`` on the clean table, then after an upsert delta,
    a delete delta and a reinsert of deleted keys."""
    spark, name, ddl = engine.spark, t.name, _ddl(t)
    check(t, probe)
    t.upsert(spark.createDataFrame(upsert_rows, ddl + ", v int"))
    t = engine.table(name)
    assert any(f.kind == "delta" for f in t.state().files)
    check(t, probe)
    t.delete(spark.createDataFrame(delete_keys, ddl))
    t = engine.table(name)
    got = check(t, probe)
    for k in delete_keys:
        assert not got[probe.index(k)]
    t.insert(spark.createDataFrame(reinsert_rows, ddl + ", v int"))
    t = engine.table(name)
    got = check(t, probe)
    for r in reinsert_rows:
        assert got[probe.index(r[:-1])]
    return t


def test_float_keys_nan_and_signed_zero(engine):
    """NaN equals NaN and -0.0 equals 0.0 as Spark compares keys; a
    float footer records NaN as its max, which must not prune."""
    fs, ds = [1.5, -0.0, NAN, 2.25, -7.0], [0.0, NAN, 3.5]
    rows = [(f, d, i) for i, (f, d) in enumerate((f, d) for f in fs for d in ds)]
    t = make(engine, "kp_float", [("f", "float", False), ("d", "double", False),
                                  ("v", "int", True)], ["f", "d"], rows, bloom="f,d",
             hash_partitions=[{"columns": ["f", "d"], "buckets": 4}])
    probe = [(f, d) for f in fs + [0.0, 9.0] for d in ds + [-0.0, 8.0]]
    probe += [(None, 0.0), (1.5, None), (NAN, NAN), (0.0, -0.0)]  # NULLs, duplicates
    churn(engine, t, [(1.5, 0.0, 100), (9.0, 8.0, 101)],
          [(NAN, NAN), (-7.0, 0.0), (2.25, 3.5)],
          [(NAN, NAN, 102)], probe)


def test_decimal_keys_and_a_declining_sidecar(engine):
    """Decimal footer bounds compare numerically; after ALTER
    pk_bloom_cols the sidecars hash two tuples and decline."""
    rows = [(Decimal(i * 7) / 4, Decimal(i * 10**12), Decimal(i) * 10**30, i)
            for i in range(-6, 20)]
    t = make(engine, "kp_dec", [("a", "decimal(9,2)", False), ("b", "decimal(18,0)", False),
                                ("c", "decimal(38,0)", False), ("v", "int", True)],
             ["a", "b", "c"], rows, bloom="a,b,c",
             hash_partitions=[{"columns": ["c"], "buckets": 4}])
    probe = [r[:3] for r in rows] + [(Decimal("1.75"), Decimal(10**12), Decimal(10)**30),
                                     (Decimal(100), Decimal(1), Decimal(1)),
                                     (None, Decimal(0), Decimal(0))]
    probe.append(probe[3])
    check(t, probe)
    engine.alter_table("kp_dec").set_property("pk_bloom_cols", "c").apply()
    t = engine.table("kp_dec")
    churn(engine, t, [rows[2][:3] + (50,), (Decimal(100), Decimal(1), Decimal(1), 51)],
          [rows[0][:3], rows[5][:3]], [rows[5]], probe)
    from kudu_spark.plans import presence

    st = engine.table("kp_dec").state()
    assert isinstance(presence.resolve(t.root, st.files, st.schema, st.schema.pk, True), str)


def test_time_keys(engine):
    base = datetime.datetime(2020, 1, 1)
    rows = [(base + datetime.timedelta(days=i, microseconds=i),
             datetime.date(2020, 1, 1) + datetime.timedelta(days=40 * i), i)
            for i in range(12)]
    t = make(engine, "kp_time", [("ts", "timestamp", False), ("dt", "date", False),
                                 ("v", "int", True)], ["ts", "dt"], rows,
             hash_partitions=[{"columns": ["ts"], "buckets": 4}])
    probe = [r[:2] for r in rows] + [
        (base, datetime.date(2019, 1, 1)),
        (datetime.datetime(1500, 1, 1), datetime.date(2020, 1, 1)),  # not hashable on the driver
        (None, datetime.date(2020, 1, 1))]
    probe.append(probe[0])
    churn(engine, t, [rows[1][:2] + (50,), (base, datetime.date(2019, 1, 1), 51)],
          [rows[2][:2], rows[3][:2]], [rows[3]], probe)


def test_string_varchar_binary_keys_with_prefix_sidecar(engine):
    """A sidecar over a PK prefix answers a superset; positives verify."""
    rows = [(f"s{i % 4}", f"v{i}", bytes([i, 255 - i]), i) for i in range(16)]
    t = make(engine, "kp_bytes", [("s", "string", False), ("vc", "varchar(10)", False),
                                  ("b", "binary", False), ("v", "int", True)],
             ["s", "vc", "b"], rows, bloom="s",
             hash_partitions=[{"columns": ["s", "b"], "buckets": 4}])
    probe = [r[:3] for r in rows] + [("s1", "v1", b"\x00"), ("zz", "v1", b"\x01\xfe"),
                                     ("s1", "v1" + "x" * 20, bytes([1, 254])),
                                     ("s0", None, b"")]
    probe.append(probe[5])
    churn(engine, t, [rows[1][:3] + (50,), ("new", "v", b"", 51)],
          [rows[2][:3], rows[7][:3]], [rows[7]], probe)


def test_integer_composite_key_dead_buckets_and_ranges(engine, spark, monkeypatch):
    """Keys routed to no live bucket or outside every range are absent
    with no data IO."""
    rows = [(i, i % 100, i % 3, i % 5 == 0, i) for i in range(0, 200, 20)]
    t = make(engine, "kp_int", [("i", "int", False), ("l", "bigint", False),
                                ("sm", "smallint", False), ("bo", "boolean", False),
                                ("v", "int", True)], ["i", "l", "sm", "bo"], rows,
             hash_partitions=[{"columns": ["l"], "buckets": 16}],
             range_partition={"column": "i", "ranges": [[0, 100], [100, 200]]})
    st = t.state()
    live = {tuple(f.partition["hash"]) for f in st.files}
    dead = [(7, l, 0, False) for l in range(100, 200)
            if (tbl.locate(st, {"i": 7, "l": l})["hash"][0],) not in live][:5]
    outside = [(500, 0, 0, True), (-5, 20, 2, False)]
    assert len(dead) == 5
    calls = []
    orig = tbl.Table._read_files
    monkeypatch.setattr(tbl.Table, "_read_files",
                        lambda self, *a, **kw: calls.append(1) or orig(self, *a, **kw))
    assert t._live_keys(st, dead + outside) == [False] * 7
    assert calls == []
    monkeypatch.undo()
    probe = [r[:4] for r in rows] + dead + outside + [(20, 20, 2, False), (None, 1, 1, True)]
    probe.append(probe[0])
    churn(engine, t, [rows[1][:4] + (50,), (7, 7, 1, True, 51)],
          [rows[2][:4], rows[6][:4]], [rows[6]], probe)


@pytest.mark.parametrize("bloom", [None, "k"])
def test_small_delete_runs_the_callers_frame_once(engine, spark, bloom):
    """A small Table.delete collects its keys in one pass over the
    caller's frame, probes them, and writes tombstones from the keys
    in hand."""
    name = f"kp_once_{bloom or 'plain'}"
    t = make(engine, name, [("k", "bigint", False), ("v", "int", True)], ["k"],
             [(i, i) for i in range(100)], bloom=bloom,
             hash_partitions=[{"columns": ["k"], "buckets": 2}])
    acc = spark.sparkContext.accumulator(0)

    def seen(k):
        acc.add(1)
        return k

    udf = F.udf(seen, "bigint")
    t.delete(spark.range(10, 20).select(udf("id").alias("k")))
    assert acc.value == 10
    assert {r.k for r in engine.table(name).to_df().collect()} == set(range(100)) - set(range(10, 20))
    with pytest.raises(RowNotFoundError):
        engine.table(name).delete(spark.createDataFrame([(5,), (15,)], "k bigint"))
    engine.table(name).delete_ignore(spark.createDataFrame([(5,), (15,), (5,)], "k bigint"))
    left = {r.k for r in engine.table(name).to_df().collect()}
    assert left == set(range(100)) - set(range(10, 20)) - {5}


def test_batches_over_the_limit_take_the_spark_probe(engine, spark, monkeypatch):
    """Past PROBE_KEYS_MAX keys, DELETE, INSERT's duplicate check and a
    session run probe in Spark, with the same answers."""
    from kudu_spark.errors import DuplicateKeyError, FlushFailedError
    from kudu_spark.writer import Session

    monkeypatch.setattr(tbl.Table, "PROBE_KEYS_MAX", 4)
    t = make(engine, "kp_over", [("k", "bigint", False), ("v", "int", True)], ["k"],
             [(i, i) for i in range(20)], bloom="k",
             hash_partitions=[{"columns": ["k"], "buckets": 2}])
    keys = spark.createDataFrame([(k,) for k in range(10)] + [(99,)], "k bigint")
    with pytest.raises(RowNotFoundError):
        t.delete(keys)
    t.delete_ignore(keys)
    t = engine.table("kp_over")
    assert {r.k for r in t.to_df().collect()} == set(range(10, 20))
    with pytest.raises(DuplicateKeyError):
        t.insert(spark.createDataFrame([(k, 0) for k in range(15, 25)], "k bigint, v int"))
    t.insert_ignore(spark.createDataFrame([(k, 0) for k in range(15, 25)], "k bigint, v int"))
    t = engine.table("kp_over")
    assert {r.k for r in t.to_df().collect()} == set(range(10, 25))
    s = Session(t)
    for k in (1, 2, 11, 12, 13, 30):
        s.delete({"k": k})
    with pytest.raises(FlushFailedError):
        s.flush()
    assert sorted(e.row["k"] for e in s.get_pending_errors()[0]) == [1, 2, 30]
    assert {r.k for r in engine.table("kp_over").to_df().collect()} == set(range(14, 25)) | {10}

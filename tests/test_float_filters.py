"""Float and double filters on dirty tables: NaN, -0.0 and ±inf rows.

A dirty partition's merged rows stay resident from their second scan
(``Table._cached_frame``). Spark prunes an in-memory relation's batches
by min/max statistics that never record NaN, although Spark orders NaN
above every value, so a filter applied over the resident frame lost the
NaN rows on every scan after the first. Each filter below runs twice on
a dirty table, once on the streaming plan and once on the resident one,
and both answers must equal a Python model of Spark's ordering: NaN
equals NaN and sorts above +inf, -0.0 equals 0.0, NULL matches
nothing.
"""

from __future__ import annotations

import math

import pytest

from kudu_spark.engine import Engine

NAN, INF = float("nan"), float("inf")


def _key(x):
    return (1, 0.0) if math.isnan(x) else (0, x)


def _holds(v, op, lit) -> bool:
    if v is None:
        return False
    if op == "in":
        return any(_key(v) == _key(x) for x in lit)
    a, b = _key(v), _key(lit)
    return {"=": a == b, "!=": a != b, "<": a < b, "<=": a <= b,
            ">": a > b, ">=": a >= b}[op]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    return Engine(spark, str(tmp_path_factory.mktemp("floatwh")))


def _dirty(engine, spark, name, schema, pk, rows, upserts, ddl):
    t = engine.create_table(name, schema, pk=pk,
                            hash_partitions=[{"columns": pk, "buckets": 2}])
    engine.alter_table(name).set_property("auto_compact", "false").apply()
    t = engine.table(name)
    t.insert(spark.createDataFrame(rows, ddl))
    t.upsert(spark.createDataFrame(upserts, ddl))
    return engine.table(name)


def test_resident_dirty_frame_keeps_nan_rows(engine, spark):
    """The (k int PK, d double) repro: 30 rows, every third d NaN, one
    upsert; NaN and `>` filters are exact on every scan."""
    rows = [(k, NAN if k % 3 == 0 else float(k)) for k in range(30)]
    t = _dirty(engine, spark, "nanrepro", [("k", "int", False), ("d", "double", True)],
               ["k"], rows, [(1, 1.5)], "k int, d double")
    want_nan = sorted(k for k in range(30) if k % 3 == 0)
    want_gt = sorted(k for k, d in rows if k != 1 and (math.isnan(d) or d > 20.0))
    for _ in range(3):
        got = sorted(r.k for r in t.scan(filters=[("d", "=", NAN)]).collect())
        assert got == want_nan
        got = sorted(r.k for r in t.scan(filters=[("d", ">", 20.0)]).collect())
        assert got == want_gt


VALUES = [NAN, -0.0, 0.0, 1.5, 20.0, -INF, INF, None, 2.5, NAN]
FILTERS = (
    [[(op, lit)] for op in ("=", "!=", "<", "<=", ">", ">=")
     for lit in (NAN, -0.0, INF, 2.5)]
    + [[("in", [NAN, 1.5])], [("in", [-0.0, INF])],
       [(">=", -0.0), ("<=", NAN)], [(">=", 1.5), ("<=", 20.0)]]  # BETWEEN
)


@pytest.mark.parametrize("col_type", ["double", "float"])
def test_float_filters_match_the_model_on_every_scan(engine, spark, col_type):
    """Non-key float/double columns and a float/double key, every
    comparison against NaN, -0.0, +inf and a finite literal."""
    t = _dirty(engine, spark, f"fmodel_{col_type}",
               [("k", "int", False), ("c", col_type, True)], ["k"],
               list(enumerate(VALUES)), [(0, NAN)], f"k int, c {col_type}")
    keys = [NAN, -0.0, 1.5, 20.0, -INF, INF, 2.5]
    keyed = _dirty(engine, spark, f"fkey_{col_type}",
                   [("p", col_type, False), ("k", "int", True)], ["p"],
                   [(v, k) for k, v in enumerate(keys)], [(1.5, 99)],
                   f"p {col_type}, k int")
    key_rows = [(v, 99 if v == 1.5 else k) for k, v in enumerate(keys)]
    for filt in FILTERS:
        want = sorted(k for k, v in enumerate(VALUES)
                      if all(_holds(v, op, lit) for op, lit in filt))
        want_key = sorted(k for v, k in key_rows
                          if all(_holds(v, op, lit) for op, lit in filt))
        for _ in range(2):  # streaming, then resident
            got = sorted(r.k for r in t.scan(
                filters=[("c", op, lit) for op, lit in filt]).collect())
            assert got == want, (col_type, filt)
            got = sorted(r.k for r in keyed.scan(
                filters=[("p", op, lit) for op, lit in filt]).collect())
            assert got == want_key, (col_type, "key", filt)


@pytest.mark.parametrize("col_type", ["double", "float"])
def test_negative_zero_key_matches_a_zero_literal(engine, spark, monkeypatch, col_type):
    """-0.0 equals 0.0 on both read arms, clean and dirty: a keyed
    ``p = 0.0`` (answered on the driver), and scans whose filter reaches
    the parquet scan: a non-key ``d = 0.0`` and a PK IN-list over
    PROBE_KEYS_MAX."""
    import kudu_spark.table as tbl

    name = f"negzero_{col_type}"
    t = engine.create_table(name, [("p", col_type, False), ("d", col_type, True),
                                   ("k", "int", True)], pk=["p"])
    engine.alter_table(name).set_property("auto_compact", "false").apply()
    t = engine.table(name)
    ddl = f"p {col_type}, d {col_type}, k int"
    t.insert(spark.createDataFrame([(-0.0, -0.0, 1), (2.5, 0.0, 2), (3.5, 1.0, 3)], ddl))

    def ks(filters):
        return sorted(r.k for r in engine.table(name).scan(filters=filters).collect())

    for _ in ("clean", "dirty"):
        st = engine.table(name).state()
        assert engine.table(name)._keyed_scan(st, [("p", "=", 0.0)], None) is not None
        assert ks([("p", "=", 0.0)]) == ks([("p", "=", -0.0)]) == [1]
        assert ks([("p", "in", [0.0, 2.5])]) == [1, 2]
        assert ks([("d", "=", 0.0)]) == ks([("d", "=", -0.0)]) == [1, 2]
        assert ks([("d", "in", [0.0, 1.0])]) == [1, 2, 3]
        assert ks([("d", "in", [-0.0, 0.0])]) == [1, 2]
        monkeypatch.setattr(tbl.Table, "PROBE_KEYS_MAX", 1)
        assert engine.table(name)._keyed_scan(st, [("p", "in", [0.0, 3.5])], None) is None
        assert ks([("p", "in", [0.0, 3.5])]) == [1, 3]
        assert ks([("p", "in", [-0.0, 0.0])]) == [1]
        monkeypatch.undo()
        engine.table(name).upsert(spark.createDataFrame([(3.5, 1.0, 3)], ddl))

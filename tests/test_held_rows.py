"""Gate for the held-rows frame of a keyed read (``table._HeldRows``):
``collect()`` and ``toArrow()`` answer from the rows ``_live_rows``
found and must equal the JVM frame of the same arrow table,
``spark.createDataFrame(rows)``, in values, Python types and Row
fields, over every driver-readable type with NULL, NaN, ±inf, -0.0,
empty strings and empty arrays; every other use of the frame must
equal that frame's; and a point read plus ``collect()`` sends no
command to the JVM and runs no Spark job."""

from __future__ import annotations

import datetime
import itertools
import math
import threading
from decimal import Decimal

import pandas as pd
import pytest

import kudu_spark.table as tbl
from kudu_spark.engine import Engine
from tests.test_key_probe import make

NAN, INF = float("nan"), float("inf")

SCALARS = [("ti", "tinyint"), ("si", "smallint"), ("i", "int"), ("bi", "bigint"),
           ("f", "float"), ("d", "double"), ("d5", "decimal(5,2)"), ("d12", "decimal(12,2)"),
           ("d25", "decimal(25,4)"), ("b", "boolean"), ("s", "string"), ("vc", "varchar(5)"),
           ("bin", "binary"), ("dt", "date")]
COLS = [("k", "int", False), *[(c, t, True) for c, t in SCALARS],
        *[(f"a_{c}", f"array<{t}>", True) for c, t in SCALARS if not t.startswith("decimal")]]

# per scalar column: values cycled over the rows (None = NULL)
VALUES = {
    "ti": [-128, 127, 0, None], "si": [-32768, 32767, -1, None],
    "i": [-2 ** 31, 2 ** 31 - 1, 7, None], "bi": [-2 ** 63, 2 ** 63 - 1, 0, None],
    "f": [NAN, -0.0, INF, -INF, 1.5, None], "d": [NAN, -0.0, INF, -INF, 0.1, None],
    "d5": [Decimal("-999.99"), Decimal("0.00"), Decimal("1.5"), None],
    "d12": [Decimal("9999999999.99"), Decimal("-0.01"), Decimal("0"), None],
    "d25": [Decimal("-123456789012345678901.2345"), Decimal("0.0001"), None],
    "b": [True, False, None], "s": ["", "ü€𝄞", "plain", None], "vc": ["", "abcde", None],
    "bin": [b"", b"\x00\xff", b"x", None],
    "dt": [datetime.date(1970, 1, 1), datetime.date(2999, 12, 31),
           datetime.date(1900, 3, 1), None],
}


def _row(k: int) -> tuple:
    scalars = [VALUES[c][k % len(VALUES[c])] for c, _ in SCALARS]
    arrays = [[] if k % 3 == 0 else None if k % 3 == 1 else
              [VALUES[c][(k + j) % len(VALUES[c])] for j in range(3)]
              for c, t in SCALARS if not t.startswith("decimal")]
    return (k, *scalars, *arrays)


def _ident(v):
    """A value's identity: its Python type and value, down to the sign
    of a zero and NaN; lists element by element."""
    if isinstance(v, list):
        return ("list", tuple(map(_ident, v)))
    if isinstance(v, float):
        return (float, "nan") if math.isnan(v) else (float, v, math.copysign(1.0, v))
    return (type(v), v)


def _rows(rows) -> list:
    return [(r.__fields__, tuple(map(_ident, r))) for r in rows]


def _columns(table) -> list:
    return [[_ident(v) for v in c.to_pylist()] for c in table.columns]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    return Engine(spark, str(tmp_path_factory.mktemp("held_rows")))


@pytest.fixture(scope="module")
def every_type(engine):
    """A table of every ``_driver_readable`` type, 12 rows, then an
    upsert delta over 4 of them (so reads merge two files)."""
    ddl = ", ".join(f"`{c}` {t}" for c, t, _ in COLS).replace("varchar(5)", "string")
    t = engine.create_table("held_types", COLS, pk=["k"],
                            hash_partitions=[{"columns": ["k"], "buckets": 2}])
    spark = engine.spark
    t.insert(spark.createDataFrame([_row(k) for k in range(12)], ddl))
    t.upsert(spark.createDataFrame([(k,) + _row(k + 5)[1:] for k in (1, 4, 7, 10)], ddl))
    return engine.table("held_types")


@pytest.mark.parametrize("as_bytes", ["true", "false"])
def test_held_actions_equal_the_jvm_frame(spark, every_type, as_bytes):
    old = spark.conf.get("spark.sql.execution.pyspark.binaryAsBytes", "true")
    spark.conf.set("spark.sql.execution.pyspark.binaryAsBytes", as_bytes)
    try:
        for filters, columns, n in [([("k", "in", list(range(12)))], None, 12),
                                    ([("k", "=", 4)], None, 1),
                                    ([("k", "in", [0, 7, 3, 99])],
                                     ["bin", "k", "a_bin", "d25", "f"], 3)]:
            held = every_type.scan(filters=filters, columns=columns)
            assert isinstance(held, tbl._HeldRows)
            jvm = spark.createDataFrame(held._held)
            assert "_jdf" not in vars(held)
            got, want = held.collect(), jvm.collect()
            assert "_jdf" not in vars(held)  # the actions built no JVM frame
            assert _rows(got) == _rows(want)
            assert len(got) == n
            a, b = held.toArrow(), jvm.toArrow()
            assert a.schema.equals(b.schema, check_metadata=True)
            assert _columns(a) == _columns(b)  # Table.equals fails NaN across chunkings
            assert held.schema == jvm.schema
            assert held.columns == (columns or [c for c, _, _ in COLS])
    finally:
        spark.conf.set("spark.sql.execution.pyspark.binaryAsBytes", old)


def test_every_other_use_equals_the_jvm_frame(spark, engine):
    """Plans built over a held frame are those of its JVM frame."""
    t = engine.create_table("held_uses", [("k", "bigint", False), ("v", "int", True),
                                          ("s", "string", True), ("d", "double", True)],
                            pk=["k"])
    t.insert(spark.createDataFrame([(k, k, f"s{k}", k / 4) for k in range(20)],
                                   "k bigint, v int, s string, d double"))
    keys = [("k", "in", [2, 3, 5, 7, 11])]

    def both():
        held = t.scan(filters=keys)
        assert isinstance(held, tbl._HeldRows)
        return held, spark.createDataFrame(held._held)

    def same(a, b):
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    held, jvm = both()
    assert held.schema == jvm.schema and held.dtypes == jvm.dtypes
    assert held.count() == jvm.count() == 5
    held, jvm = both()
    same(held.where("v > 3").collect(), jvm.where("v > 3").collect())
    same(held.select("s", "k").collect(), jvm.select("s", "k").collect())
    other = spark.createDataFrame([(3, "x"), (7, "y"), (8, "z")], "k bigint, o string")
    held, jvm = both()
    same(held.join(other, "k").collect(), jvm.join(other, "k").collect())
    same(other.join(held, "k", "left").collect(), other.join(jvm, "k", "left").collect())
    held, jvm = both()
    pd.testing.assert_frame_equal(held.toPandas(), jvm.toPandas())
    held, jvm = both()
    assert held.inputFiles() == jvm.inputFiles()
    held, jvm = both()
    held.cache()
    try:
        assert held.is_cached and held.storageLevel == jvm.cache().storageLevel
        same(held.collect(), jvm.collect())
        assert held.groupBy().sum("v").collect() == jvm.groupBy().sum("v").collect()
    finally:
        held.unpersist()
        jvm.unpersist()
    held, jvm = both()
    held.createOrReplaceTempView("held_view")
    jvm.createOrReplaceTempView("jvm_view")
    q = "SELECT s, v * 2 AS w FROM {} WHERE d > 0.5 ORDER BY s"
    assert (spark.sql(q.format("held_view")).collect()
            == spark.sql(q.format("jvm_view")).collect())
    held, jvm = both()
    assert held.limit(2).count() == 2 and held.orderBy("k").first() == jvm.orderBy("k").first()


def test_spark_connect_keeps_the_created_frame():
    """A session whose frames are not classic ones gets
    ``spark.createDataFrame(rows)``."""
    class Remote:
        def createDataFrame(self, rows):
            return ("created", rows)

    assert tbl._held_frame(Remote(), "rows") == ("created", "rows")


class _Commands:
    """Counts the commands the py4j gateway client sends from this
    thread while on (py4j releases the JVM objects of earlier work
    from a thread of its own)."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.n = 0

    def __enter__(self):
        real, me = self.client.send_command, threading.get_ident()

        def counted(*a, **k):
            self.n += threading.get_ident() == me
            return real(*a, **k)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc):
        del self.client.send_command  # the class's method again


_groups = itertools.count()


@pytest.mark.parametrize("bloom", [None, "k"])
def test_point_read_and_collect_make_no_jvm_call(engine, spark, bloom):
    name = f"held_calls_{bloom or 'plain'}"
    t = make(engine, name, [("k", "bigint", False), ("v", "int", True)], ["k"],
             [(i, i) for i in range(100)], bloom=bloom,
             hash_partitions=[{"columns": ["k"], "buckets": 2}])
    sc = spark.sparkContext
    t.scan(filters=[("k", "=", 1)]).collect()  # warm-up
    for state in ("clean", "dirty"):
        for filters, columns in [([("k", "=", 42)], None),
                                 ([("k", "in", [5, 6, 7, 500, 42])], None),
                                 ([("k", "=", 42)], ["v", "k"])]:
            group = f"held-calls-{next(_groups)}"
            sc.setJobGroup(group, group)
            try:
                with _Commands(spark) as calls:
                    rows = t.scan(filters=filters, columns=columns).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert calls.n == 0, (state, filters, columns)
            assert sc.statusTracker().getJobIdsForGroup(group) == []
            assert 42 in {r.k for r in rows}
            if columns:
                assert rows[0].__fields__ == columns
        t.upsert(spark.createDataFrame([(42, -1), (7, -7)], "k bigint, v int"))
        t = engine.table(name)

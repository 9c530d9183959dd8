"""Differential gate for the driver-side bucket hash (plans/keyhash.py).

The scan planner and ``Engine.locate_row`` hash predicate literals on
the driver; the writer and the presence build hash in the JVM with
``F.xxhash64``. Every case here asks Spark for
``pmod(xxhash64(_write_cast(lit(v), type), lit(seed)), n)`` and checks
the driver computes the same bucket, over every hashable column type
of tests/test_all_types.py, edge values, composite dimensions, seeds
and per-range bucket overrides — then end to end, against the buckets
the writer stamped on real files."""

from __future__ import annotations

import datetime
import os
import random
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kudu_spark.engine import Engine
from kudu_spark.errors import KuduSparkError
from kudu_spark.plans import keyhash
from kudu_spark.table import _write_cast
from tests.test_all_types import ALL_TYPES

HASHABLE = sorted({t for _, t, _ in ALL_TYPES if not t.startswith("array")})
UTC = datetime.timezone.utc


def _int_edges(bits: int) -> list:
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    rng = random.Random(bits)
    return [0, -1, 1, lo, hi] + [rng.randint(lo, hi) for _ in range(8)]


def _text(rng: random.Random, n: int) -> str:
    alphabet = "abcXYZ09 éñü日本語字😀"
    return "".join(rng.choice(alphabet) for _ in range(n))


def _values(t: str) -> list:
    """NULL, fixed edge values and a seeded random sample for type ``t``."""
    rng = random.Random(0)
    bits = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}
    if t in bits:
        return [None] + _int_edges(bits[t])
    if t == "boolean":
        return [None, True, False]
    if t in ("float", "double"):
        return [None, 0.0, -0.0, float("nan"), float("inf"), -float("inf"),
                0.1, 1.5, -2.75, 3.4e38, 1e-45, -1e-50, 1e300] + [
            rng.uniform(-1e6, 1e6) for _ in range(6)]
    if t == "string":
        return [None, "", "a", "héllo", "日本語テキスト", "😀"] + [
            _text(rng, n) for n in (3, 7, 8, 12, 31, 32, 33, 40, 64, 70)]
    if t == "varchar(10)":
        # multibyte strings past 10 characters: truncation counts
        # characters, not bytes
        return [None, "", "short", "ñ" * 15, "日本語" * 5, "😀" * 11,
                "abcdefghijKLMNOP"] + [_text(rng, n) for n in (9, 10, 11, 25)]
    if t == "binary":
        return [None, b"", b"\x00", bytes(range(40))] + [
            bytes(rng.randrange(256) for _ in range(n)) for n in (1, 4, 5, 8, 31, 33, 64)]
    if t == "timestamp":
        naive = [datetime.datetime(2020, 1, 1, 12, 30, 15, 123456),
                 datetime.datetime(1970, 1, 1),
                 datetime.datetime(1960, 6, 1, 0, 0, 0, 1),
                 datetime.datetime(1583, 1, 1), datetime.datetime(1850, 1, 1),
                 datetime.datetime(2262, 4, 11, 23, 47, 16, 854775)]
        aware = [datetime.datetime(2020, 1, 1, 12, 30, tzinfo=UTC),
                 datetime.datetime(2024, 2, 29, 23, 59, 59, 999999,
                                   tzinfo=datetime.timezone(datetime.timedelta(hours=-5)))]
        rand = [datetime.datetime(1900, 1, 1) + datetime.timedelta(
            microseconds=rng.randrange(0, 200 * 365 * 86400 * 10**6)) for _ in range(6)]
        return [None] + naive + aware + rand
    if t == "date":
        return [None, datetime.date(1970, 1, 1), datetime.date(1969, 12, 31),
                datetime.date(2020, 2, 29), datetime.date(9999, 12, 31),
                datetime.date(1000, 1, 1), datetime.date(1582, 10, 4),
                "2020-01-05", "1900-03-01", "0001-01-01"] + [
            datetime.date(1900, 1, 1) + datetime.timedelta(days=rng.randrange(100_000))
            for _ in range(6)]
    if t.startswith("decimal"):
        p = int(t[8:].split(",")[0])
        hi = 10 ** p - 1
        vals = [None, Decimal(0), Decimal(-1), Decimal(hi), Decimal(-hi), 7, -12,
                "42", "-3", "1e2"] + [Decimal(rng.randint(-hi, hi)) for _ in range(6)]
        if p > 18:
            # unscaled values past 2^63: hashed as BigInteger bytes
            vals += [Decimal(2**63), Decimal(2**64 + 5), Decimal(-(2**70)),
                     Decimal(10**37), Decimal(-128), Decimal(128), Decimal(255)]
        return vals
    raise AssertionError(t)


def _spark_buckets(spark, cases) -> list[int]:
    """Spark's bucket for each (types, values, seed, n) case, literals
    write-cast exactly as the writer casts batch columns."""
    out = []
    for start in range(0, len(cases), 150):
        exprs = []
        for j, (types, vals, seed, n) in enumerate(cases[start:start + 150]):
            cols = [_write_cast(F.lit(v), t) for t, v in zip(types, vals)]
            exprs.append(F.pmod(F.xxhash64(*cols, F.lit(seed)), F.lit(n))
                         .cast("long").alias(f"b{j}"))
        row = spark.range(1).select(*exprs).collect()[0]
        out.extend(row)
    return out


def _driver_bucket(types, vals, seed, n) -> int:
    row = [keyhash.column(t, [v])[0] for t, v in zip(types, vals)]
    return keyhash.xxhash64(row, seed) % n


def test_driver_bucket_matches_spark_every_type(spark):
    cases = [
        ([t], [v], seed, n)
        for t in HASHABLE
        for v in _values(t)
        for seed, n in ((0, 4), (7, 7))
    ]
    # coercible literals: a narrower int against wider integer columns,
    # decimals with a scale (HALF_UP rounding), and numeric strings
    cases += [(["bigint"], [5], 0, 16), (["smallint"], [-300], 0, 16),
              (["decimal(12,2)"], ["7.00"], 0, 4),
              (["decimal(12,2)"], [Decimal("7")], 0, 4),
              (["decimal(12,2)"], ["7.005"], 0, 4),
              (["decimal(12,2)"], [Decimal("-7.005")], 0, 4),
              (["decimal(38,10)"], ["123456789012345678901.5"], 0, 4)]
    want = _spark_buckets(spark, cases)
    got = [_driver_bucket(*c) for c in cases]
    bad = [(c, g, w) for c, g, w in zip(cases, got, want) if g != w]
    assert not bad, bad[:5]


def test_driver_bucket_matches_spark_composite_and_seeds(spark):
    rng = random.Random(0)
    pairs = [("int", "string"), ("bigint", "date"), ("varchar(10)", "decimal(38,0)"),
             ("timestamp", "binary"), ("double", "boolean")]
    seeds = [0, 1, -3, 2**31 - 1, -(2**31), 2**31 + 5, -(2**40)]
    cases = []
    for ta, tb in pairs:
        for seed in seeds:
            for _ in range(3):
                a, b = rng.choice(_values(ta)), rng.choice(_values(tb))
                cases.append(([ta, tb], [a, b], seed, rng.choice([1, 2, 3, 8, 13])))
        cases.append(([ta, tb], [None, None], 5, 8))
    want = _spark_buckets(spark, cases)
    got = [_driver_bucket(*c) for c in cases]
    bad = [(c, g, w) for c, g, w in zip(cases, got, want) if g != w]
    assert not bad, bad[:5]


@pytest.mark.parametrize("t,v", [
    ("int", 2**31), ("tinyint", 300), ("bigint", True), ("bigint", "5"),
    ("bigint", 5.0), ("double", 1), ("string", 5), ("boolean", 1),
    ("date", "2020-1-5"), ("date", "2020-02-30"),
    ("date", datetime.datetime(2020, 1, 1)), ("timestamp", "2020-01-01"),
    ("timestamp", datetime.datetime(1000, 1, 1)),
    ("decimal(4,0)", 12345), ("decimal(9,2)", "abc"), ("decimal(9,2)", 1.5),
    ("decimal(9,2)", Decimal("NaN")), ("array<int>", [1]),
])
def test_uncoercible_literals_rejected(t, v):
    with pytest.raises(keyhash.LiteralNotHashable):
        keyhash.column(t, [v])


def test_written_files_carry_driver_buckets(spark, tmp_path):
    """End to end: every written row's file carries, per hash
    dimension, the bucket the driver computes for the row's key —
    composite dimensions, a long seed and per-range overrides."""
    eng = Engine(spark, str(tmp_path / "wh"))
    schema = [("r", "bigint", False), ("s", "varchar(10)", False),
              ("d", "date", False), ("m", "decimal(38,0)", False),
              ("ts", "timestamp", False), ("v", "int", True)]
    t = eng.create_table(
        "kh", schema, pk=["r", "s", "d", "m", "ts"],
        hash_partitions=[{"columns": ["s", "d"], "buckets": 3, "seed": 2**31 + 5},
                         {"columns": ["m", "ts"], "buckets": 2, "seed": 11}],
        range_partition={"column": "r", "ranges": [[0, 50], [50, 100]],
                         "hash_overrides": {1: [5, 7]}},
    )
    rng = random.Random(0)
    rows = [(r, _text(rng, rng.randrange(1, 14)),
             datetime.date(2000, 1, 1) + datetime.timedelta(days=rng.randrange(9000)),
             Decimal(rng.randrange(-(2**100), 2**100)),
             datetime.datetime(2020, 1, 1) + datetime.timedelta(seconds=rng.randrange(10**8)),
             r) for r in range(100)]
    t.insert(spark.createDataFrame(
        rows, "r bigint, s string, d date, m decimal(38,0), ts timestamp, v int"))
    st = t.state()
    ps = st.partition_spec
    types = {c.name: c.type for c in st.schema.columns}
    checked = 0
    for f in st.files:
        for row in pq.read_table(os.path.join(t.root, f.path)).to_pylist():
            # parquet timestamps read back as naive UTC wall-clock time
            row["ts"] = row["ts"].replace(tzinfo=UTC)
            for i, dim in enumerate(ps.hash_dims):
                n = ps.buckets_for(f.partition["range"], i)
                got = _driver_bucket([types[c] for c in dim.columns],
                                     [row[c] for c in dim.columns], dim.seed, n)
                assert got == f.partition["hash"][i], (row, dim)
            checked += 1
    assert checked == 100
    # locate_row names each row's file; a point scan prunes to it
    for r in (3, 77):
        key = {c: v for c, v in zip(["r", "s", "d", "m", "ts"], rows[r][:5])}
        key["s"] = key["s"][:10]  # the stored varchar(10) value
        loc = eng.locate_row("kh", key)
        files = [f for f in st.files
                 if f.partition["hash"] == loc["hash"] and f.partition["range"] == loc["range"]]
        assert files
        pruned = t._prune(st, [(c, "=", v) for c, v in key.items()])
        assert {f.path for f in pruned} <= {f.path for f in files}
        assert [x.v for x in t.scan(filters=[(c, "=", v) for c, v in key.items()]).collect()] == [r]


def test_uncoercible_literal_skips_pruning_but_scan_is_exact(spark, tmp_path):
    """A literal the driver cannot coerce exactly (a float against a
    bigint key) keeps every bucket; the scan-side filter still answers
    exactly. locate_row refuses it."""
    eng = Engine(spark, str(tmp_path / "wh"))
    t = eng.create_table("u", [("k", "bigint", False), ("v", "int", True)], pk=["k"],
                         hash_partitions=[{"columns": ["k"], "buckets": 4}])
    t.insert(spark.createDataFrame([(k, k) for k in range(40)], "k bigint, v int"))
    st = t.state()

    def buckets(filters):
        return {f.partition["hash"][0] for f in t._prune(st, filters)}

    # footer bounds still prune; hash pruning leaves every bucket
    in_bounds = {f.partition["hash"][0] for f in st.files
                 if f.min_pk[0] <= 7 <= f.max_pk[0]}
    assert len(in_bounds) > 1
    assert buckets([("k", "=", 7.0)]) == in_bounds
    assert len(buckets([("k", "=", 7)])) == 1
    assert [r.v for r in t.scan(filters=[("k", "=", 7.0)]).collect()] == [7]
    with pytest.raises(KuduSparkError):
        eng.locate_row("u", {"k": 7.0})


def test_cli_locate_row_types_json_keys(spark, tmp_path, capsys):
    """`locate-row` reads JSON key values as the key columns' types: an
    ISO-8601 timestamp string (session time zone), a JSON number against
    a decimal and a double, and a hex string against binary each name
    the file that holds the row."""
    import json

    from kudu_spark import cli

    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    t = eng.create_table(
        "c", [("ts", "timestamp", False), ("price", "decimal(10,2)", False),
              ("x", "double", False), ("b", "binary", False), ("v", "int", True)],
        pk=["ts", "price", "x", "b"],
        hash_partitions=[{"columns": ["ts"], "buckets": 4},
                         {"columns": ["price"], "buckets": 4},
                         {"columns": ["x", "b"], "buckets": 4}])
    rows = [(datetime.datetime(2020, 1, 1, h, tzinfo=UTC), Decimal(h) + Decimal("0.5"),
             float(h), bytes([h, 255]), h) for h in range(24)]
    t.insert(spark.createDataFrame(
        rows, "ts timestamp, price decimal(10,2), x double, b binary, v int"))
    st = t.state()
    for h in (5, 17):
        pk = {"ts": f"2020-01-01 {h:02d}:00:00", "price": h + 0.5, "x": h,
              "b": bytes([h, 255]).hex()}
        capsys.readouterr()
        assert cli.main(["--warehouse", wh, "locate-row", "c", "--pk", json.dumps(pk)]) == 0
        loc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        held = [r["v"] for f in st.files if f.partition["hash"] == loc["hash"]
                for r in pq.read_table(os.path.join(t.root, f.path)).to_pylist()]
        assert h in held

"""Spark jobs per operation, counted with statusTracker job groups, and
the commands the driver sent the JVM over py4j meanwhile.

Runs each op once on a fresh local table, on a plain table and on one
with the ``pk_bloom_cols`` presence index, and prints one row per op:

- the 2-bucket (k bigint, v int, s string) table: insert into empty,
  insert of new keys, a point read (``scan`` on one key, then
  collect) on the clean table, a duplicate insert (rejected), a 4-row
  ``Session`` upsert, a point read and a 5-key IN-list read on the
  now dirty table, a 5-key ``Table.delete`` and a transaction
  (insert + upsert + delete);
- a 4-row ``Session`` upsert on the same table with a decimal(12,2)
  column;
- an olap-shaped table with olap_churn's ``lineitem`` column types (a
  composite (orderkey, linenumber) key hashed into 8 buckets,
  decimal(12,2) money columns, a date and a string), 60,000 rows plus
  one upsert delta: a 3,000-row ``Session`` upsert (some new keys), a
  600-key ``Table.delete`` from a Python-built key frame, as the
  olap_churn benchmark issues both, and a 10,000-key delete (past
  ``Table.PROBE_KEYS_MAX``, the Spark-side probe).

Auto-compaction is off, so no fold lands inside a counted op. Jobs run
by other threads are not counted. py4j commands are counted at the
gateway client's ``send_command`` while the op runs, in the op's thread
(the job group's own set-up calls are not, nor py4j's own thread
releasing the JVM objects of earlier ops).

    python scripts/op_jobs.py [--cpus 4]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import threading
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kudu_spark.engine import Engine  # noqa: E402
from kudu_spark.errors import DuplicateKeyError  # noqa: E402
from kudu_spark.session import get_spark  # noqa: E402
from kudu_spark.writer import Session, Transaction  # noqa: E402

_seq = [0]


def jobs(spark, fn, expect=None) -> tuple[int, int]:
    """(Spark jobs ``fn()`` ran in this thread, py4j commands it sent);
    ``expect`` is an exception type the op must raise."""
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    real = client.send_command
    calls, me = [0], threading.get_ident()

    def counted(*a, **k):
        calls[0] += threading.get_ident() == me
        return real(*a, **k)

    _seq[0] += 1
    group = f"op-jobs-{_seq[0]}"
    sc.setJobGroup(group, group)
    client.send_command = counted
    try:
        fn()
    except Exception as e:  # noqa: BLE001
        if expect is None or not isinstance(e, expect):
            raise
    else:
        if expect is not None:
            raise AssertionError(f"expected {expect.__name__}")
    finally:
        del client.send_command
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), calls[0]


def point_read(t, filters) -> list:
    """``Table.scan`` on a bound key, then collect: both are counted."""
    return t.scan(filters=filters).collect()


def small_ops(spark, eng, name: str, bloom: bool) -> dict:
    t = eng.create_table(name, [("k", "bigint", False), ("v", "int", True),
                                ("s", "string", True)], pk=["k"],
                         hash_partitions=[{"columns": ["k"], "buckets": 2}])
    alter = eng.alter_table(name).set_property("auto_compact", "false")
    if bloom:
        alter = alter.set_property("pk_bloom_cols", "k")
    alter.apply()
    t = eng.table(name)

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.col("id").cast("int").alias("v"),
            F.concat(F.lit("s"), F.col("id")).alias("s"))

    out = {"insert into empty": jobs(spark, lambda: t.insert(rows(0, 100))),
           "insert new keys": jobs(spark, lambda: t.insert(rows(100, 200))),
           "point read, clean": jobs(spark, lambda: point_read(t, [("k", "=", 42)])),
           "duplicate insert": jobs(spark, lambda: t.insert(rows(150, 160)),
                                    expect=DuplicateKeyError)}

    def session_upsert():
        s = Session(t)
        for k in (5, 6, 500, 501):
            s.upsert({"k": k, "v": -k, "s": "u"})
        s.flush()

    out["4-row Session upsert"] = jobs(spark, session_upsert)
    out["point read, dirty"] = jobs(spark, lambda: point_read(t, [("k", "=", 5)]))
    out["5-key IN-list read"] = jobs(
        spark, lambda: point_read(t, [("k", "in", [5, 6, 7, 500, 999])]))
    keys = spark.createDataFrame([(k,) for k in (1, 2, 3, 104, 199)], "k bigint")
    out["Table.delete, 5 keys"] = jobs(spark, lambda: t.delete(keys))

    def txn():
        x = Transaction(t)
        x.insert(rows(1000, 1010))
        x.upsert(rows(10, 12))
        x.delete(spark.createDataFrame([(20,), (21,)], "k bigint"))
        x.commit()

    out["txn insert+upsert+delete"] = jobs(spark, txn)

    dec = eng.create_table(f"{name}_dec", [("k", "bigint", False), ("v", "int", True),
                                           ("p", "decimal(12,2)", True)], pk=["k"],
                           hash_partitions=[{"columns": ["k"], "buckets": 2}])
    alter = eng.alter_table(f"{name}_dec").set_property("auto_compact", "false")
    if bloom:
        alter = alter.set_property("pk_bloom_cols", "k")
    alter.apply()
    dec = eng.table(f"{name}_dec")
    dec.insert(rows(0, 100).select("k", "v", F.lit(1.5).cast("decimal(12,2)").alias("p")))

    def decimal_upsert():
        s = Session(dec)
        for k in (5, 6, 500, 501):
            s.upsert({"k": k, "v": -k, "p": Decimal("2.25")})
        s.flush()

    out["4-row Session upsert, decimal"] = jobs(spark, decimal_upsert)
    return out


def olap_ops(spark, eng, name: str, bloom: bool) -> dict:
    ddl = "orderkey bigint, linenumber int"
    money = ("quantity", "extendedprice", "discount", "tax")
    t = eng.create_table(name, [("orderkey", "bigint", False), ("linenumber", "int", False),
                                *[(c, "decimal(12,2)", True) for c in money],
                                ("shipdate", "date", True), ("comment", "string", True)],
                         pk=["orderkey", "linenumber"],
                         hash_partitions=[{"columns": ["orderkey"], "buckets": 8}])
    alter = eng.alter_table(name).set_property("auto_compact", "false")
    if bloom:
        alter = alter.set_property("pk_bloom_cols", "orderkey,linenumber")
    alter.apply()
    t = eng.table(name)

    def rows(ids, salt):
        return ids.select(
            (F.col("id") / 4).cast("bigint").alias("orderkey"),
            (F.col("id") % 4).cast("int").alias("linenumber"),
            *[(F.col("id") % (50 + i) + salt).cast("decimal(12,2)").alias(c)
              for i, c in enumerate(money)],
            F.date_add(F.lit("1992-01-02").cast("date"),
                       (F.col("id") % 2_500).cast("int")).alias("shipdate"),
            F.concat(F.lit("c"), F.col("id")).alias("comment"))

    t.insert(rows(spark.range(60_000), 0))
    t.upsert(rows(spark.range(0, 60_000, 97), 1))
    t = eng.table(name)
    up = [r.asDict() for r in rows(spark.range(0, 66_000, 22), 2).collect()]  # 3,000 rows

    def session_upsert():
        s = Session(t)
        for r in up:
            s.upsert(r)
        s.flush()

    out = {"3,000-row Session upsert, olap": jobs(spark, session_upsert)}
    doomed = [(i // 4, i % 4) for i in range(0, 60_000, 100)]  # 600 keys
    out["olap delete, 600 keys"] = jobs(
        spark, lambda: t.delete(spark.createDataFrame(doomed, ddl)))
    many = [(i // 4, i % 4) for i in range(1, 60_000, 6)]  # 10,000 keys
    out["olap delete, 10,000 keys"] = jobs(
        spark, lambda: t.delete(spark.createDataFrame(many, ddl)))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--cpus", default="4")
    args = ap.parse_args()
    spark = get_spark(app_name="op-jobs", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory(prefix="op-jobs-") as wh:
        eng = Engine(spark, wh)
        plain = {**small_ops(spark, eng, "plain", False), **olap_ops(spark, eng, "olap", False)}
        bloom = {**small_ops(spark, eng, "bloom", True), **olap_ops(spark, eng, "olap_b", True)}
    width = max(len(k) for k in plain)
    print(f"{'':<{width}}  Spark jobs            py4j calls")
    print(f"{'op':<{width}}  plain  pk_bloom_cols  plain  pk_bloom_cols")
    for op in plain:
        (pj, pc), (bj, bc) = plain[op], bloom[op]
        print(f"{op:<{width}}  {pj:>5}  {bj:>13}  {pc:>5}  {bc:>13}")
    spark.stop()


if __name__ == "__main__":
    main()

"""olap_churn: analytic scans over a lineitem table that keeps changing.

The table is a seeded TPC-H-like ``lineitem`` (decimal money columns, so
sums compare exactly), hash-partitioned on ``l_orderkey``, with default
table settings. The measured loop first runs the scan set on the freshly
loaded (clean) table, then churn cycles: a bulk upsert of ~1% of rows
(some new keys) as one ``Session`` flush, a bulk ``Table.delete`` of
~0.2% of the live rows, then the scan set on the now dirty table. Each
query in the set reads the same snapshot, so the dirty-state and
key-frame caches built by the first serve the rest.

Every scan is paired with the same query over a plain parquet copy of the
identical live rows, which the benchmark maintains itself from the same
seeded inputs; the pair is both the correctness reference and the
``read_vs_parquet`` baseline. Every bulk write is paired with writing the
same rows (or deleted keys) as a new parquet file.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from perfbench import common, gen
from perfbench.common import Ctx, Tally

SPEC = gen.OlapSpec()
PK = ["l_orderkey", "l_linenumber"]
# bytes of one row as the client sends it: 2 keys, 4 decimals, 2 flags,
# a date and a 24-character comment
ROW_BYTES = 8 + 4 + 4 * 8 + 2 + 4 + 24
KEY_BYTES = 8 + 4
KEY_DDL = "l_orderkey bigint, l_linenumber int"

Q1 = """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base_price,
       sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc,
       count(*) AS count_order
FROM {t} WHERE l_shipdate <= date '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""
Q6 = """
SELECT sum(l_extendedprice * l_discount) AS revenue FROM {t}
WHERE l_shipdate >= date '1994-01-01' AND l_shipdate < date '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


@dataclass
class Handle:
    warehouse: str
    engine: object
    table: object
    session: object
    ref: str  # parquet copy of the live rows
    cycles: object
    n_ref: int = 0


def _rows(spark, ids, seed: int, salt: int):
    """Lineitem rows for the ids in ``ids`` (a DataFrame with ``id``);
    every value is a hash of (id, seed, salt), so the same inputs give
    the same rows."""
    from pyspark.sql import functions as F

    def h(tag):
        return F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt), F.lit(tag))

    def money(x):
        return x.cast("decimal(12,2)")

    return ids.select(
        (F.floor(F.col("id") / 4) + 1).alias("l_orderkey"),
        (F.col("id") % 4 + 1).cast("int").alias("l_linenumber"),
        money(F.pmod(h(1), 50) + 1).alias("l_quantity"),
        money(F.pmod(h(2), 10_000_000) / 100 + 900).alias("l_extendedprice"),
        money(F.pmod(h(3), 11) / 100).alias("l_discount"),
        money(F.pmod(h(4), 9) / 100).alias("l_tax"),
        F.element_at(F.array(*[F.lit(x) for x in "ANR"]),
                     (F.pmod(h(5), 3) + 1).cast("int")).alias("l_returnflag"),
        F.element_at(F.array(*[F.lit(x) for x in "FO"]),
                     (F.pmod(h(6), 2) + 1).cast("int")).alias("l_linestatus"),
        F.date_add(F.lit("1992-01-02").cast("date"),
                   F.pmod(h(7), 2_500).cast("int")).alias("l_shipdate"),
        F.substring(F.sha2(F.concat_ws(":", F.col("id"), F.lit(seed), F.lit(salt)), 256),
                    1, 24).alias("l_comment"),
    )


def setup_once(ctx: Ctx) -> Handle:
    from kudu_spark.engine import Engine
    from kudu_spark.writer import Session

    wh = ctx.warehouse()
    eng = Engine(ctx.spark, os.path.join(wh, "engine"))
    cycles = gen.olap_cycles(ctx.seed, SPEC)
    load = next(cycles)
    rows = _rows(ctx.spark, ctx.spark.range(SPEC.n_rows), ctx.seed, load.salt)
    t = eng.create_table("lineitem", rows.schema, pk=PK,
                         hash_partitions=[{"columns": ["l_orderkey"],
                                           "buckets": SPEC.buckets}])
    t.insert(rows)
    h = Handle(wh, eng, t, Session(t), os.path.join(wh, "ref0"), cycles)
    rows.write.parquet(h.ref)
    return h


def warm_up(ctx: Ctx, h: Handle) -> None:
    """One untimed, checked pass of the scan set."""
    warm = Tally()
    _scan_set(ctx, h, warm, 0)
    if warm.failed:
        raise RuntimeError(f"warm-up failed: {warm.errors}")


def _queries(range_lo: int):
    """(name, engine query, parquet query): each query builds the
    DataFrame whose collected rows are compared."""
    from pyspark.sql import functions as F

    lo, hi = range_lo, range_lo + SPEC.range_orders
    rcols = ["l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"]

    def sql(q):
        return (lambda h: h.engine.sql(q.format(t="lineitem")),
                lambda spark: spark.sql(q.format(t="lineitem_ref")))

    return [
        ("q1",) + sql(Q1),
        ("q6",) + sql(Q6),
        ("count", lambda h: h.table.scan(columns=["l_orderkey"]).groupBy().count(),
         lambda spark: spark.table("lineitem_ref").groupBy().count()),
        ("range",
         lambda h: h.table.scan(columns=rcols, filters=[
             ("l_orderkey", ">=", lo), ("l_orderkey", "<", hi)]),
         lambda spark: spark.table("lineitem_ref").select(*rcols).where(
             (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi))),
    ]


def _scan_set(ctx: Ctx, h: Handle, tally: Tally, range_lo: int) -> None:
    """Each query once on the current snapshot, paired with the same
    query over the parquet copy."""
    tr = ctx.tracer
    ctx.spark.read.parquet(h.ref).createOrReplaceTempView("lineitem_ref")
    for name, engine_q, parquet_q in _queries(range_lo):
        tally.attempted += 1
        exec_span = "engine.sql.exec" if name in ("q1", "q6") else "table.scan.exec"
        with tr.span("op.read", query=name) as rec:
            t0 = time.perf_counter()
            df = engine_q(h)
            with tr.span(exec_span):
                got = sorted(df.collect())
            dt = time.perf_counter() - t0
            if rec is not None:
                common.scan_attrs(rec, h.table.state(), df)
        t0 = time.perf_counter()
        want = sorted(parquet_q(ctx.spark).collect())
        dp = time.perf_counter() - t0
        if got != want:
            tally.fail(f"{name}: engine {got[:3]}... != parquet {want[:3]}...")
            continue
        tally.reads.append(dt)
        tally.read_pairs.append((dt, dp))


def _cycle(ctx: Ctx, h: Handle, tally: Tally, c: gen.OlapCycle) -> None:
    """One bulk upsert (a Session flush) and one bulk delete
    (``Table.delete``), applied to the engine table (timed) and to the
    parquet copy (untimed)."""
    from pyspark.sql import functions as F

    from kudu_spark import meta

    spark, tr = ctx.spark, ctx.tracer
    universe = int(SPEC.n_rows * (1 + SPEC.new_key_share))
    up = _rows(spark, spark.range(universe).where(
        F.pmod(F.xxhash64(F.col("id"), F.lit(ctx.seed), F.lit(c.salt)), 1000)
        < SPEC.upsert_per_mille), ctx.seed, c.salt)
    up_rows = up.collect()
    up_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in up.schema.fields)
    tally.attempted += 1
    with tr.span("op.write", kind="upsert") as rec:
        v0 = meta.head_version(h.table.root) if rec is not None else 0
        t0 = time.perf_counter()
        for r in up_rows:
            h.session.upsert(r.asDict())
        h.session.flush()
        dt = time.perf_counter() - t0
        common.write_attrs(rec, h.table, v0)
    tally.writes.append(dt)
    tally.write_pairs.append((dt, common.parquet_write(ctx, up_rows, up_ddl)))
    tally.rows_written += len(up_rows)
    tally.applied += len(up_rows)
    tally.user_bytes += len(up_rows) * ROW_BYTES

    live = spark.read.parquet(h.ref).join(up.select(*PK), PK, "left_anti").unionByName(up)
    doomed_rows = live.where(
        F.pmod(F.xxhash64(*[F.col(k) for k in PK], F.lit(ctx.seed), F.lit(c.salt + 1)), 1000)
        < SPEC.delete_per_mille).select(*PK).collect()
    doomed = spark.createDataFrame(doomed_rows, KEY_DDL)
    n_del = len(doomed_rows)
    tally.attempted += 1
    with tr.span("op.write", kind="delete") as rec:
        v0 = meta.head_version(h.table.root) if rec is not None else 0
        t0 = time.perf_counter()
        h.table.delete(doomed)
        dt = time.perf_counter() - t0
        common.write_attrs(rec, h.table, v0)
    tally.writes.append(dt)
    tally.write_pairs.append((dt, common.parquet_write(ctx, doomed_rows, KEY_DDL)))
    tally.rows_written += n_del
    tally.user_bytes += n_del * KEY_BYTES

    h.n_ref += 1
    new_ref = os.path.join(h.warehouse, f"ref{h.n_ref}")
    live.join(doomed, PK, "left_anti").write.parquet(new_ref)
    h.ref = new_ref


def measure(ctx: Ctx, h: Handle, tally: Tally) -> int:
    """Scan the clean table, then run churn cycles: at least one, and
    another only if the last one's duration says it ends before
    ``ctx.seconds``; then re-run the scan set on the last snapshot while
    a pass still fits. Returns operations completed (scans and bulk
    writes)."""
    tr = ctx.tracer
    end = time.perf_counter() + ctx.seconds
    c = next(h.cycles)
    tr.op_id = 0
    _scan_set(ctx, h, tally, c.range_lo)
    cycles, last = 0, 0.0
    while cycles == 0 or time.perf_counter() + last < end:
        c = next(h.cycles)
        tr.op_id = c.cycle
        t0 = time.perf_counter()
        try:
            _cycle(ctx, h, tally, c)
            _scan_set(ctx, h, tally, c.range_lo)
        except Exception as e:  # a failed cycle is counted, not fatal
            tally.fail(f"cycle {c.cycle}: {type(e).__name__}: {e}")
        last = time.perf_counter() - t0
        cycles += 1
    passes, last = 0, 0.0
    while time.perf_counter() + last < end:
        t0 = time.perf_counter()
        _scan_set(ctx, h, tally, c.range_lo)
        last = time.perf_counter() - t0
        passes += 1
    tr.op_id = None
    tally.info.update(cycles=cycles, extra_scan_passes=passes)
    return len(tally.reads) + len(tally.writes)


def verify(ctx: Ctx, h: Handle, tally: Tally) -> None:
    """The whole table against the parquet copy: row count and an
    order-independent checksum, through Engine.sql."""
    q = ("SELECT count(*), bit_xor(xxhash64(l_orderkey, l_linenumber, l_quantity, "
         "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
         "l_shipdate, l_comment)) FROM {t}")
    ctx.spark.read.parquet(h.ref).createOrReplaceTempView("lineitem_ref")
    df = h.engine.sql(q.format(t="lineitem"))
    with ctx.tracer.span("engine.sql.exec"):
        got = df.collect()
    want = ctx.spark.sql(q.format(t="lineitem_ref")).collect()
    tally.attempted += 1
    if got != want:
        tally.fail(f"final state: engine {got} != parquet {want}")


def sizes(h: Handle) -> dict:
    st = h.table.statistics()
    return {"rows_loaded": SPEC.n_rows, "live_rows": st["live_row_count"],
            "table_bytes": st["on_disk_size"], "buckets": SPEC.buckets,
            "upsert_per_mille": SPEC.upsert_per_mille,
            "delete_per_mille": SPEC.delete_per_mille}


def traced_objects(h: Handle):
    return [(h.table, common.TABLE_METHODS), (h.session, common.SESSION_METHODS),
            (h.engine, common.ENGINE_METHODS)]

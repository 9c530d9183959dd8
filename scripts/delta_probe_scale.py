#!/usr/bin/env python
"""Measure the round-9 claim: presence probes stay live and O(batch)
on a MUTATING table (delta commits carrying sidecars), with the
size-tiered merge bounding per-probe work as delta commits accumulate.

For a table seeded with --rows rows (pk_bloom_cols=key), applies
--deltas upsert batches of --batch rows with auto-compaction OFF (the
worst case: every delta commit stays live), running only the sidecar
merge like async maintenance would. After every few deltas, times

  - the presence probe for a NOVEL --batch-row key set (the insert
    dup-check's short circuit; should stay flat in delta count), and
  - the fallback join probe against the pruned snapshot (what every
    probe would cost without sidecars; grows with live delta files),

and records live-sidecar count + probe engagement. Prints one JSON
line. Usage:

  python scripts/delta_probe_scale.py --rows 2000000 --deltas 24 --batch 20000

``--delete-every N`` makes every Nth delta commit a DELETE of an
existing slice (round-10: delete commits carry indexed delete-key
shard families, so the probe must stay ENGAGED **and EXACT** — each
point then also times an exact `present_key_check` over a half-
deleted / half-live key batch and asserts both halves answer
correctly with zero data IO):

  python scripts/delta_probe_scale.py --rows 2000000 --deltas 24 \\
      --batch 20000 --delete-every 3
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--rows", type=int, default=2_000_000)
    p.add_argument("--deltas", type=int, default=24)
    p.add_argument("--batch", type=int, default=20_000)
    p.add_argument("--every", type=int, default=4)
    p.add_argument("--delete-every", type=int, default=0,
                   help="every Nth delta commit DELETEs an existing "
                        "slice instead of upserting (0 = never)")
    p.add_argument("--cpus", default="32")
    args = p.parse_args()

    from pyspark.sql import functions as F

    from kudu_spark.engine import Engine
    from kudu_spark.session import get_spark

    spark = get_spark(app_name="delta-probe-scale", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    eng = Engine(spark, tempfile.mkdtemp(prefix="pyskudu-dps-"))
    t = eng.create_table(
        "m", [("key", "string", False), ("v", "string", True)], pk=["key"],
        hash_partitions=[{"columns": ["key"], "buckets": 8}],
    )
    eng.alter_table("m").set_property("pk_bloom_cols", "key") \
        .set_property("auto_compact", "false").apply()
    t = eng.table("m")

    def rows(lo: int, n: int, tag: str):
        # md5 keys: random across the whole keyspace (the ingest
        # band-key shape) so footer min/max pruning cannot rescue the
        # fallback join — the honest worst case the r7 verdict measured
        return spark.range(lo, lo + n).select(
            F.md5(F.col("id").cast("string")).alias("key"),
            F.concat(F.lit(tag), F.col("id")).alias("v"))

    t.insert(rows(0, args.rows, "base"))

    def probe_novel(table) -> tuple[float, bool]:
        novel = rows(10 * args.rows, args.batch, "x").select("key")
        t0 = time.perf_counter()
        got = table.present_key_probe(novel, ["key"])
        engaged = got is not None
        hits = got.count() if engaged else -1
        el = time.perf_counter() - t0
        assert hits <= 0 or not engaged, f"novel keys reported present: {hits}"
        return el, engaged

    def probe_fallback(table) -> float:
        novel = rows(10 * args.rows, args.batch, "x").select("key")
        t0 = time.perf_counter()
        st = table.state()
        existing = table._existing_pks(st, novel)
        novel.join(existing, on=["key"], how="left_semi").count()
        return time.perf_counter() - t0

    def probe_exact_mixed(table, deleted_lo: int, live_lo: int):
        """Exact check over --batch keys: half from a DELETEd slice
        (must answer absent), half from live base rows (must answer
        present) — the round-10 delete-subtraction correctness, timed."""
        half = args.batch // 2
        dele = rows(deleted_lo, half, "x").select("key")
        live = rows(live_lo, half, "x").select("key")
        probe = dele.unionByName(live)
        t0 = time.perf_counter()
        got = table.present_key_check(probe, ["key"])
        if got is None:
            return None, False
        hits = got.count()
        el = time.perf_counter() - t0
        assert hits == half, (
            f"exact probe through deletes answered {hits} of {2 * half} "
            f"(want exactly the {half} live keys)")
        return round(el, 2), True

    out = {"rows": args.rows, "batch": args.batch,
           "delete_every": args.delete_every, "points": []}
    rng_lo = 0
    deleted_los: list[int] = []
    for d in range(args.deltas + 1):
        if d > 0:
            lo = rng_lo % (args.rows - args.batch)
            if args.delete_every and d % args.delete_every == 0:
                # DELETE an existing never-before-touched slice: a pure
                # delete delta commit carrying a del-* shard family
                t.delete(rows(lo, args.batch, "x").select("key"))
                deleted_los.append(lo)
            else:
                t.upsert(rows(lo, args.batch, f"u{d}"))
            rng_lo += args.batch
            t.merge_presence_sidecars()  # what async maintenance runs
            t = eng.table("m")
        if d % args.every == 0 or d == args.deltas:
            st = t.state()
            live = len({f.bloom for f in st.files if f.bloom})
            deltas = sum(1 for f in st.files if f.kind == "delta")
            pr, engaged = probe_novel(t)
            fb = probe_fallback(t)
            point = {
                "delta_commits": d, "delta_files": deltas,
                "live_sidecars": live, "probe_engaged": engaged,
                "probe_sec": round(pr, 2), "fallback_join_sec": round(fb, 2),
            }
            if deleted_los:
                ex_s, exact = probe_exact_mixed(
                    t, deleted_los[-1],
                    # a live slice no delta has touched
                    (rng_lo + args.batch) % (args.rows - args.batch))
                point["exact_check_sec"] = ex_s
                point["exact_engaged"] = exact
                point["presence_exact"] = bool(
                    t.statistics().get("presence_exact"))
            out["points"].append(point)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Retrain -> convergence window measurement for hybrid ANN serving.

Before r14, ONE stale-stamped file pushed the whole quantized serve
onto the full-precision fallback (zero pruning, all fp bytes) until a
FULL-TABLE compaction finished — at 100 TB that window is hours of
degraded serving plus a 2x-storage rewrite. r14 replaced it with
per-file hybrid serving + budgeted convergence steps; this script
measures that window:

  1. build a hash-partitioned engine table of N synthetic vectors
     with stored cells + int8 codes, fully converged under model A;
  2. RETRAIN (same data -> same centroids, new model id): every file
     is now stale-stamped, serving is 100% on-the-fly;
  3. drain the backlog with `converge_vector_cells(budget)` one step
     at a time; after EVERY step record
       stale_row_fraction        (manifest, what scan_cells sees)
       fp_bytes_exposed          (manifest bytes of files still
                                  routing the fp fallback — the bytes
                                  a candidate scan may touch beyond
                                  the int8 columns)
       serve_sec                 (quantized ann_topk, noop write)
     and assert the serve returns rows IDENTICAL to the pre-retrain
     baseline (same centroids => same answer at every intermediate
     state — the hybrid path's correctness claim at scale).

The JSON output asserts fp_bytes_exposed is monotone non-increasing
and ends at 0 — the number that proves each budget step buys back
serve bytes immediately instead of only at full convergence.

    python scripts/converge_scale.py --rows 400000 --steps 6
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
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=400_000)
    ap.add_argument("--dims", type=int, default=32)
    ap.add_argument("--cells", type=int, default=32)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--probes", type=int, default=4)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--steps", type=int, default=6,
                    help="target number of convergence steps (the "
                         "budget is total_bytes / steps)")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from kudu_spark import vector
    from kudu_spark.engine import Engine
    from kudu_spark.session import get_spark

    spark = get_spark(app_name="converge-scale", cpus=args.cpus)
    wh = tempfile.mkdtemp(prefix="pyskudu-conv-")
    eng = Engine(spark, wh)
    t = eng.create_table(
        "vecs", [("vec_id", "bigint", False),
                 ("embedding", "array<float>", True)], pk=["vec_id"],
        hash_partitions=[{"columns": ["vec_id"], "buckets": args.buckets}])
    eng.alter_table("vecs") \
        .set_property("vector_quantize_cols", "embedding") \
        .set_property("auto_compact", "false").apply()
    dims = args.dims
    vec = F.array(*[
        (
            (F.xxhash64(F.col("id"), F.lit(d)) % 1000) / 500.0 - 1.0
            + F.when((F.col("id") % args.cells) == (d % args.cells),
                     F.lit(2.0)).otherwise(F.lit(0.0))
        ).cast("float")
        for d in range(dims)
    ])
    src = spark.range(args.rows).select(
        F.col("id").alias("vec_id"), vec.alias("embedding"))
    eng.table("vecs").insert(src)
    t = eng.table("vecs")
    t.train_vector_cells("embedding", n_cells=args.cells, n_iters=2)
    t = eng.table("vecs")
    t.compact(full=True)  # converged steady state under model A
    t = eng.table("vecs")
    assert t.vector_cell_staleness("embedding") == 0.0
    qids = [i * (args.rows // 16) for i in range(8)]

    def serve_rows():
        return sorted(tuple(r) for r in t.ann_topk(
            "embedding", qids, k=args.k, n_probes=args.probes,
            quantized=True).collect())

    def serve_time():
        t0 = time.perf_counter()
        t.ann_topk("embedding", qids, k=args.k, n_probes=args.probes,
                   quantized=True).write.format("noop") \
            .mode("overwrite").save()
        return time.perf_counter() - t0

    baseline_rows = serve_rows()
    serve_time()  # warm
    baseline_sec = serve_time()

    # RETRAIN: identical data -> identical centroids, fresh model id ->
    # 100% stale stamps, rows must not change at any point
    t.train_vector_cells("embedding", n_cells=args.cells, n_iters=2)
    t = eng.table("vecs")
    cur = vector.artifact(t, "embedding")["model_id"]

    def fp_bytes_exposed():
        st = t.state()
        return sum(f.bytes for f in st.files
                   if not (vector.current(f, vector.IVFC_PREFIX, "embedding", cur)
                           and vector.current(f, vector.Q8_PREFIX, "embedding")))

    total_bytes = sum(f.bytes for f in t.state().files)
    budget = max(1, total_bytes // max(args.steps, 1))
    steps = []
    stale = t.vector_cell_staleness("embedding")
    assert stale == 1.0
    steps.append({
        "step": 0, "stale_frac": round(stale, 4),
        "fp_bytes_exposed": fp_bytes_exposed(),
        "serve_sec": round(serve_time(), 3),
        "rows_identical": serve_rows() == baseline_rows,
    })
    n = 0
    while t.vector_cell_staleness("embedding") > 0:
        n += 1
        conv = t.converge_vector_cells(io_budget_bytes=budget)
        t = eng.table("vecs")
        steps.append({
            "step": n, "stale_frac": round(
                t.vector_cell_staleness("embedding"), 4),
            "fp_bytes_exposed": fp_bytes_exposed(),
            "serve_sec": round(serve_time(), 3),
            "rows_identical": serve_rows() == baseline_rows,
            "partitions_compacted": conv["partitions"],
            "spent_bytes": conv["spent_bytes"],
        })
        assert n <= args.buckets + 2, "convergence did not drain"
    fps = [s["fp_bytes_exposed"] for s in steps]
    assert all(a >= b for a, b in zip(fps, fps[1:])), fps  # monotone
    assert fps[-1] == 0
    assert all(s["rows_identical"] for s in steps)
    print(json.dumps({
        "rows": args.rows, "dims": dims, "cells": args.cells,
        "buckets": args.buckets, "budget_bytes": budget,
        "total_bytes": total_bytes,
        "baseline_serve_sec": round(baseline_sec, 3),
        "monotone_fp_bytes": True,
        "steps": steps,
    }))
    import shutil

    shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()

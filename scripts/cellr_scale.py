#!/usr/bin/env python
"""Manifest file-pruning A/B for stored-cell ANN serving at scale.

FileEntry.cellr ([min, max] of __ivfc_<col> per base file, stamped
from the file's own footer at flush) lets scan_cells drop whole files
from the plan before any footer IO. The layout that makes the bounds
tight is compaction's range-repartition of clustered unpartitioned
tables (cluster_file_bytes target). This script measures the claim at
a vector count the testdata tables can't reach:

  1. synthesize N deterministic vectors (seeded per-row hash mix —
     measurement input only; correctness queries always use the
     driver's testdata), insert into a clustered engine table,
     train cells, full-compact (the converged steady state);
  2. report, for a k-NN serve probing ``--probes`` of ``--cells``:
       files_opened / files_total        (from df.inputFiles())
       bytes_opened / bytes_total        (manifest bytes of those files)
       serve seconds with file pruning   (cellr present)
       serve seconds with pruning OFF    (cellr stripped from the
                                          in-memory state — same rows,
                                          same row-group pruning, only
                                          the manifest file skip lost)
     and asserts both serves return identical rows.

    python scripts/cellr_scale.py --rows 1000000 --dims 32 --cells 64

Prints one JSON line with the fractions and timings.
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
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--dims", type=int, default=32)
    ap.add_argument("--cells", type=int, default=64)
    ap.add_argument("--probes", type=int, default=4)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--file-bytes", type=int, default=8 << 20)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from kudu_spark import vector
    from kudu_spark.engine import Engine
    from kudu_spark.session import get_spark

    spark = get_spark(app_name="cellr-scale", cpus=args.cpus)
    wh = tempfile.mkdtemp(prefix="pyskudu-cellr-")
    eng = Engine(spark, wh)
    t = eng.create_table(
        "vecs", [("vec_id", "bigint", False),
                 ("embedding", "array<float>", True)], pk=["vec_id"])
    # deterministic synthetic vectors: dimension d of row i mixes
    # xxhash64(i, d) into [-1, 1); clusterable (low-id bias term) so
    # k-means finds real structure instead of a uniform ball
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
    t.insert(src)
    t = eng.table("vecs")
    t.train_vector_cells("embedding", n_cells=args.cells, n_iters=2)
    eng.alter_table("vecs").set_property("cluster_by", "__ivfc_embedding") \
        .set_property("cluster_file_bytes", str(args.file_bytes)).apply()
    t = eng.table("vecs")
    t0 = time.perf_counter()
    t.compact(full=True)
    compact_s = time.perf_counter() - t0
    t = eng.table("vecs")
    st = t.state()
    bases = [f for f in st.files if f.kind == "base"]
    qids = [i * (args.rows // 16) for i in range(8)]

    def serve():
        return t.ann_topk("embedding", qids, k=args.k, n_probes=args.probes)

    # the file-pruning metric comes from the CANDIDATE scan alone:
    # ann_topk's full plan also fetches the query vectors by PK, a scan
    # that legitimately opens PK-pruned files and would mask the cell
    # pruning in inputFiles(). Probe the same distinct cells the serve
    # probes (recomputed here from the frozen model, like ann_topk).
    from kudu_spark.operators.similarity import cosine_expr

    art = vector.artifact(t, "embedding")
    cent_df = F.broadcast(spark.createDataFrame(
        [(i, c) for i, c in enumerate(art["centroids"])],
        "centroid_id int, centv array<double>"))
    from pyspark.sql import Window

    w1 = Window.partitionBy("vec_id").orderBy(
        F.desc("c"), F.asc("centroid_id"))
    probe_cells = sorted({
        r["centroid_id"]
        for r in t.scan(columns=["vec_id", "embedding"],
                        filters=[("vec_id", "in", qids)])
        .crossJoin(cent_df)
        .select("vec_id", "centroid_id",
                cosine_expr("embedding", "centv").alias("c"))
        .withColumn("r", F.row_number().over(w1))
        .where(F.col("r") <= args.probes)
        .select("centroid_id").collect()})

    # warm + correctness baseline with pruning ON
    rows_on = sorted(tuple(r) for r in serve().collect())
    t1 = time.perf_counter()
    df = serve()
    df.write.format("noop").mode("overwrite").save()
    on_s = time.perf_counter() - t1
    on_files = {p.rsplit("/", 1)[-1]
                for p in t.scan_cells("embedding", probe_cells).inputFiles()}

    # pruning OFF: strip cellr from the cached state (in-memory only —
    # the manifest on disk is untouched); same stamps, same stored
    # column, same row-group pruning, only the file skip lost
    for f in st.files:
        f.cellr = None
    t2 = time.perf_counter()
    df2 = serve()
    df2.write.format("noop").mode("overwrite").save()
    off_s = time.perf_counter() - t2
    off_files = {p.rsplit("/", 1)[-1]
                 for p in t.scan_cells("embedding", probe_cells).inputFiles()}
    rows_off = sorted(tuple(r) for r in df2.limit(1 << 30).collect())
    assert rows_on == rows_off, "pruning changed results"

    by_name = {f.path.rsplit("/", 1)[-1]: f for f in bases}
    opened_bytes = sum(by_name[n].bytes for n in on_files if n in by_name)
    total_bytes = sum(f.bytes for f in bases)
    print(json.dumps({
        "rows": args.rows, "dims": dims, "cells": args.cells,
        "probes": args.probes, "queries": len(qids),
        "files_total": len(bases), "files_opened": len(on_files),
        "files_opened_nopruning": len(off_files),
        "probed_cells": len(probe_cells),
        "file_fraction": round(len(on_files) / max(len(bases), 1), 4),
        "bytes_fraction": round(opened_bytes / max(total_bytes, 1), 4),
        "expected_fraction": round(
            min(1.0, len(probe_cells) / args.cells), 4),
        "serve_sec_pruned": round(on_s, 3),
        "serve_sec_unpruned": round(off_s, 3),
        "compact_sec": round(compact_s, 3),
        "rows_identical": True,
    }))
    import shutil

    shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()

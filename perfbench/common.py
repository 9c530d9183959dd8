"""What every workload shares: the run context, its sample and
correctness accounting, and the end-to-end and per-layer metrics.

End-to-end metrics (every workload reports all of them):
  setup_s            JVM start + median of SETUP_REPEATS set-ups (create
                     and load a table) + warm-up of the kept one
  read_vs_parquet    median over reads of engine read time / the time of
                     the same read on plain parquet, run right after it
  write_vs_parquet   median over writes of engine write time / the time
                     to write the same rows as a plain parquet file

Pairing every engine operation with a plain-parquet one in the same
session cancels the machine's speed, which moves absolute times by ~15%
between runs on a shared host. Absolute latencies (median and the tail
the sample count supports) are printed in the summary and reported by
traced runs.

Write and space amplification are per-layer figures (fs.write_amp,
fs.space_amp): both jump with the number of compactions that happen to
fall inside one run, which is too coarse for a regression bound.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from perfbench import harness, stats
from perfbench.trace import Tracer, layer_totals, subtree_jobs

SETUP_REPEATS = 3


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    workdir: str
    seed: int
    seconds: float
    n_setup: int = 0
    n_parquet_writes: int = 0

    def warehouse(self) -> str:
        self.n_setup += 1
        return os.path.join(self.workdir, f"wh{self.n_setup}")


@dataclass
class Tally:
    """Samples (seconds) and correctness counts of one measured loop."""
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    reads: list = field(default_factory=list)
    writes: list = field(default_factory=list)
    read_pairs: list = field(default_factory=list)  # (engine s, parquet s)
    write_pairs: list = field(default_factory=list)  # (engine s, parquet s)
    rows_written: int = 0
    user_bytes: int = 0
    applied: int = 0  # rows applied through a Session
    info: dict = field(default_factory=dict)  # workload-specific figures

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0


def run_setups(ctx: Ctx, setup_once, warm_up):
    """Run ``setup_once(ctx)`` SETUP_REPEATS times, each in a fresh
    warehouse; keep the last, remove the others, and warm the kept one
    up. Returns (handle, per-setup seconds, warm-up seconds)."""
    times, handle = [], None
    for _ in range(SETUP_REPEATS):
        if handle is not None:
            harness.remove(handle.warehouse)
        handle, dt = timed(setup_once, ctx)
        times.append(dt)
    _, warm_s = timed(warm_up, ctx, handle)
    return handle, times, warm_s


def scan_attrs(rec, st, df) -> None:
    """Record on a traced scan span what it read: files the DataFrame
    reads, files live in the manifest, and delta files and rows."""
    if rec is None:
        return
    read = {os.path.basename(p) for p in df.inputFiles()}
    deltas = [f for f in st.files if f.kind == "delta"]
    rec["attrs"].update(
        files_read=len(read), files_live=len(st.files),
        delta_files_read=sum(os.path.basename(f.path) in read for f in deltas),
        delta_rows=sum(f.rows for f in deltas))


def space_amp(table) -> float:
    """Bytes under the table root now / live bytes after a full
    compaction (untimed; run after everything else)."""
    on_disk = sum(harness.tree_bytes(table.root).values())
    table.compact(full=True)
    return on_disk / table.statistics()["on_disk_size"]


E2E_UNITS = {"setup_s": "s", "read_vs_parquet": "ratio", "write_vs_parquet": "ratio"}


def end_to_end(tally: Tally, setup_s: float) -> dict:
    """Name -> (value, unit, sample count)."""
    out = {
        "setup_s": (setup_s, 1),
        "read_vs_parquet": (stats.median([e / p for e, p in tally.read_pairs]),
                            len(tally.read_pairs)),
        "write_vs_parquet": (stats.median([e / p for e, p in tally.write_pairs]),
                             len(tally.write_pairs)),
    }
    return {k: (v, E2E_UNITS[k], n) for k, (v, n) in out.items()}


def latencies(tally: Tally) -> dict:
    """Absolute latencies for the summary: each timing's median, the
    highest of p90/p75 its sample count supports (stats.MIN_BEYOND
    samples beyond it), and rows written per second of write time."""
    out = {}
    for name, xs in (("read", tally.reads), ("write", tally.writes)):
        ms = [x * 1000 for x in xs]
        out[f"{name}_p50_ms"] = (stats.median(ms), "ms", len(ms))
        for pct in (90, 75):
            if len(ms) >= stats.samples_needed(pct):
                out[f"{name}_p{pct}_ms"] = (stats.tail(ms, pct)[0], "ms", len(ms))
                break
    out["rows_written_per_s"] = (tally.rows_written / sum(tally.writes), "1/s",
                                 len(tally.writes))
    return out


BASELINE_WRITES = 3


def parquet_write(ctx: Ctx, rows: list, ddl: str) -> float:
    """Seconds to write ``rows`` as a new plain parquet file, the median
    of BASELINE_WRITES tries: the baseline each engine write is paired
    with. A small write is a fraction of a second and jitters by tens of
    percent, so one try would make a noisy denominator."""
    times = []
    for _ in range(BASELINE_WRITES):
        path = os.path.join(ctx.workdir, "parquet-writes", str(ctx.n_parquet_writes))
        ctx.n_parquet_writes += 1
        t0 = time.perf_counter()
        ctx.spark.createDataFrame(rows, ddl).write.parquet(path)
        times.append(time.perf_counter() - t0)
    return stats.median(times)


# -- per-layer metrics -----------------------------------------------------------

LAYER_UNITS = {
    "meta.state_ms": "ms", "meta.commits": "count", "meta.checkpoints": "count",
    "meta.log_bytes": "bytes",
    "table.scan.plan_ms": "ms", "table.scan.exec_ms": "ms",
    "table.scan.files_read": "count", "table.scan.files_live": "count",
    "table.scan.delta_files_read": "count", "table.scan.spark_jobs": "count",
    "table.scan.tasks": "count", "table.delta_rows_at_scan": "count",
    "table.scans_clean": "count", "table.scans_dirty": "count",
    "table.write_ms": "ms", "table.upserts": "count", "table.deletes": "count",
    "table.write.spark_jobs": "count",
    "table.write.files_added": "count", "table.write.bytes_added": "bytes",
    "table.compactions": "count", "table.compact_bytes_rewritten": "bytes",
    "table.writes_with_fold": "count",
    "writer.apply_us": "us", "writer.flush_ms": "ms", "writer.flushes": "count",
    "writer.rows_per_flush": "count",
    "plans.presence.sidecars": "count", "plans.presence.bytes": "bytes",
    "plans.presence.exact": "count",
    "engine.sql_ms": "ms", "engine.sql_exec_ms": "ms",
    "fs.bytes_written": "bytes", "fs.live_bytes": "bytes", "fs.files_created": "count",
    "fs.write_amp": "ratio", "fs.space_amp": "ratio",
    "trace.bookkeeping_ms": "ms", "trace.read_p50_ms": "ms", "trace.write_p50_ms": "ms",
    "trace.read_vs_parquet": "ratio", "trace.write_vs_parquet": "ratio",
}

WRITE_SPANS = ("table.upsert", "table.delete")
TABLE_METHODS = {"state": "meta.state", "scan": "table.scan", "upsert": "table.upsert",
                 "delete": "table.delete", "compact": "table.compact",
                 "merge_presence_sidecars": "plans.presence.merge"}

SESSION_METHODS = {"apply": "writer.apply", "flush": "writer.flush"}
ENGINE_METHODS = {"sql": "engine.sql"}
DRIVER_ONLY_SPANS = frozenset({"writer.apply", "meta.state"})


def per_layer(ctx: Ctx, tally: Tally, table, first_span: int, v0: int,
              files0: dict, n_ops: int, write_amp: float) -> dict:
    """Per-layer figures over the spans recorded since ``first_span``
    (the measured loop and the end-of-run checks). Times are self time
    per workload operation; scan and write counts are means per call.
    Everything but fs.space_amp, which needs a compaction that must come
    after these figures are read."""
    from kudu_spark import meta

    spans = ctx.tracer.since(first_span)
    tot = layer_totals(spans)

    def self_ms(*names):
        return sum(tot.get(n, {}).get("self_s", 0.0) for n in names) * 1000 / n_ops

    def calls(*names):
        return sum(tot.get(n, {}).get("calls", 0) for n in names)

    scans = [s for s in spans if s["name"] == "op.read" and "delta_rows" in s["attrs"]]
    n_scans = max(1, len(scans))
    execs = [s for s in spans if s["name"] in ("table.scan.exec", "engine.sql.exec")]
    writes = [s for s in spans if s["name"] == "op.write"]
    n_writes = max(1, len(writes))
    flushes = [s for s in spans if s["name"] == "writer.flush"]

    log = meta.read_log(table.root, min_version=v0)
    compacts = [c for c in log if c.get("op") == "compact"]
    fold_versions = {c["version"] for c in compacts}
    folded = sum(any(s["attrs"].get("v0", 0) < v <= s["attrs"].get("v1", 0)
                     for v in fold_versions) for s in writes)
    st = table.state()
    files1 = harness.tree_bytes(table.root)
    new_files = {p: b for p, b in files1.items() if p not in files0}
    log_dir = os.path.join(table.root, meta.LOG_DIR)
    stats_ = table.statistics()

    out = {
        "meta.state_ms": self_ms("meta.state"),
        "meta.commits": len(log),
        "meta.checkpoints": len(meta.checkpoint_versions(table.root)),
        "meta.log_bytes": sum(harness.tree_bytes(log_dir).values()),
        "table.scan.plan_ms": self_ms("table.scan"),
        "table.scan.exec_ms": self_ms("table.scan.exec"),
        "table.scan.files_read": sum(s["attrs"]["files_read"] for s in scans) / n_scans,
        "table.scan.files_live": sum(s["attrs"]["files_live"] for s in scans) / n_scans,
        "table.scan.delta_files_read":
            sum(s["attrs"]["delta_files_read"] for s in scans) / n_scans,
        "table.scan.spark_jobs": sum(s["jobs"] for s in execs) / n_scans,
        "table.scan.tasks": sum(s["tasks"] for s in execs) / n_scans,
        "table.delta_rows_at_scan": sum(s["attrs"]["delta_rows"] for s in scans) / n_scans,
        "table.scans_clean": sum(s["attrs"]["delta_rows"] == 0 for s in scans),
        "table.scans_dirty": sum(s["attrs"]["delta_rows"] > 0 for s in scans),
        "table.write_ms": self_ms(*WRITE_SPANS),
        "table.upserts": calls("table.upsert"),
        "table.deletes": calls("table.delete"),
        "table.write.spark_jobs":
            sum(subtree_jobs(spans, s["id"]) for s in writes) / n_writes,
        "table.write.files_added":
            sum(s["attrs"].get("files_added", 0) for s in writes) / n_writes,
        "table.write.bytes_added":
            sum(s["attrs"].get("bytes_added", 0) for s in writes) / n_writes,
        "table.compactions": len(compacts),
        "table.compact_bytes_rewritten": sum(
            a["file"]["bytes"] for c in compacts for a in c.get("actions", [])
            if a["type"] == "add"),
        "table.writes_with_fold": folded,
        "writer.apply_us": self_ms("writer.apply") * 1000,
        "writer.flush_ms": self_ms("writer.flush"),
        "writer.flushes": len(flushes),
        "writer.rows_per_flush": tally.applied / max(1, len(flushes)),
        "plans.presence.sidecars": stats_.get("presence_sidecars", 0),
        "plans.presence.bytes": stats_.get("presence_bytes", 0),
        "plans.presence.exact": int(bool(stats_.get("presence_exact", False))),
        "engine.sql_ms": self_ms("engine.sql"),
        "engine.sql_exec_ms": self_ms("engine.sql.exec"),
        "fs.bytes_written": sum(new_files.values()),
        "fs.live_bytes": sum(f.bytes for f in st.files),
        "fs.files_created": len(new_files),
        "fs.write_amp": write_amp,
        "trace.bookkeeping_ms": ctx.tracer.bookkeeping_s * 1000 / n_ops,
        "trace.read_p50_ms": stats.median(tally.reads) * 1000,
        "trace.write_p50_ms": stats.median(tally.writes) * 1000,
        "trace.read_vs_parquet": stats.median([e / p for e, p in tally.read_pairs]),
        "trace.write_vs_parquet": stats.median([e / p for e, p in tally.write_pairs]),
    }
    assert set(out) == set(LAYER_UNITS) - {"fs.space_amp"}
    return {k: (v, LAYER_UNITS[k], 1) for k, v in out.items()}


def write_attrs(rec, table, v0: int) -> None:
    """Record on a traced write span the commits it published and the
    files and bytes they added."""
    if rec is None:
        return
    from kudu_spark import meta

    v1 = meta.head_version(table.root)
    added = [a["file"] for c in meta.read_log(table.root, v1, min_version=v0)
             for a in c.get("actions", []) if a["type"] == "add"]
    rec["attrs"].update(v0=v0, v1=v1, files_added=len(added),
                        bytes_added=sum(f["bytes"] for f in added))

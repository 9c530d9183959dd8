"""Engine benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload oltp_point --seed 1 --seconds 20 --trace 0

Prints a human-readable summary, then as its last line one JSON object
{"correct", "attempted", "failed", "metrics"}: every end-to-end metric
with --trace 0, every per-layer metric with --trace 1. Exits 1 when a
correctness check fails and 2 when the run cannot start. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

WORKLOADS = ("oltp_point", "olap_churn")
# scratch and result files, both inside the checkout the run starts in
WORK_BASE = ".perfbench_tmp"
OUT_DIR = ".perfbench_out"


def _module(name: str):
    from perfbench import olap, oltp

    return {"oltp_point": oltp, "olap_churn": olap}[name]


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args) -> dict:
    from perfbench import common, harness, stats
    from perfbench.trace import Tracer

    mod = _module(args.workload)
    workdir = harness.make_workdir(os.path.abspath(WORK_BASE))
    spark = None
    try:
        cores = harness.local_cores()
        spark, jvm_s = harness.start_spark(workdir, cores)
        tracer = Tracer(spark, enabled=bool(args.trace),
                        driver_only=common.DRIVER_ONLY_SPANS)
        ctx = common.Ctx(spark, tracer, workdir, args.seed, args.seconds)
        h, setup_times, warm_s = common.run_setups(ctx, mod.setup_once, mod.warm_up)
        setup_s = jvm_s + stats.median(setup_times) + warm_s
        for obj, methods in mod.traced_objects(h):
            tracer.wrap(obj, methods)

        from kudu_spark import meta

        table = h.table
        v0 = meta.head_version(table.root)
        files0 = harness.tree_bytes(table.root)
        first_span = tracer.mark()
        tally = common.Tally()
        t0 = time.perf_counter()
        n_ops = mod.measure(ctx, h, tally)
        loop_s = time.perf_counter() - t0
        written = sum(b for p, b in harness.tree_bytes(table.root).items()
                      if p not in files0)
        mod.verify(ctx, h, tally)
        amp = {"write_amp": written / tally.user_bytes}
        layers = {}
        if args.trace:
            layers = common.per_layer(ctx, tally, table, first_span, v0, files0, n_ops,
                                      amp["write_amp"])
            amp["space_amp"] = common.space_amp(table)  # compacts: keep it last
            layers["fs.space_amp"] = (amp["space_amp"], "ratio", 1)
        e2e = common.end_to_end(tally, setup_s)
        return {
            "workload": args.workload, "trace": args.trace,
            "host": harness.host_record(spark, cores, args.seed),
            "sizes": mod.sizes(h),
            "setup": {"jvm_s": jvm_s, "table_setup_s": setup_times, "warm_up_s": warm_s},
            "loop": {"seconds": loop_s, "ops": n_ops,
                     "ops_per_s": n_ops / loop_s, **amp, **tally.info},
            "tally": tally, "end_to_end": e2e, "latency": common.latencies(tally),
            "per_layer": layers, "tracer": tracer,
        }
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        harness.remove(workdir)


def _print_summary(res: dict, tally) -> None:
    print(f"workload {res['workload']}  seed {res['host']['seed']}  trace {res['trace']}")
    print("host " + json.dumps(res["host"], sort_keys=True))
    print("sizes " + json.dumps(res["sizes"], sort_keys=True))
    print("setup " + json.dumps(res["setup"]))
    print("loop " + json.dumps(res["loop"]))
    print(f"attempted {tally.attempted}  failed {tally.failed}  "
          f"fail_frac {tally.failed / max(1, tally.attempted):.4f}")
    for e in tally.errors:
        print(f"  error: {e}")
    for group in ("end_to_end", "latency", "per_layer"):
        for name, (v, unit, n) in res[group].items():
            print(f"  {name:32s} {v:14.4f} {unit:6s} n={n}")


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        import pyspark  # noqa: F401

        import kudu_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    try:
        res = run(args)
    except Exception:
        traceback.print_exc()
        return 2
    tally = res["tally"]
    _print_summary(res, tally)
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}.seed{args.seed}.trace{args.trace}")
    if args.trace:
        res["tracer"].write(stem + ".spans.jsonl")
        _print_overhead(res, os.path.join(
            OUT_DIR, f"{args.workload}.seed{args.seed}.trace0.json"))
    group = "per_layer" if args.trace else "end_to_end"
    metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in res[group].items()}
    with open(stem + ".json", "w") as f:
        json.dump({**{k: {"value": v, "unit": u, "n": n}
                      for g in ("end_to_end", "latency", "per_layer")
                      for k, (v, u, n) in res[g].items()},
                   "samples_s": {"read": tally.reads, "write": tally.writes,
                                 "read_pairs": tally.read_pairs,
                                 "write_pairs": tally.write_pairs},
                   "setup": res["setup"], "loop": res["loop"], "host": res["host"],
                   "sizes": res["sizes"]}, f, indent=1)
    correct = tally.failed == 0
    print(json.dumps({"correct": correct, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0 if correct else 1


def _print_overhead(res: dict, untraced_path: str) -> None:
    """Tracing overhead: this run's end-to-end figures against those of
    the untraced run with the same workload and seed, when one exists."""
    if not os.path.exists(untraced_path):
        print(f"tracing overhead: no untraced result at {untraced_path}")
        return
    with open(untraced_path) as f:
        base = json.load(f)
    for name, (v, unit, _) in {**res["end_to_end"], **res["latency"]}.items():
        if base.get(name, {}).get("value"):
            print(f"  overhead {name:24s} {v - base[name]['value']:+12.4f} {unit} "
                  f"({v / base[name]['value'] - 1:+.1%})")


if __name__ == "__main__":
    sys.exit(main())

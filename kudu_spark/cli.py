"""Thin CLI over the engine (≈ the `kudu table ...` tool surface,
src/kudu/tools/tool_action_table.cc and table_scanner.cc).

    python -m kudu_spark.cli list --warehouse WH
    python -m kudu_spark.cli describe  --warehouse WH TABLE
    python -m kudu_spark.cli scan      --warehouse WH TABLE \
        --predicates '["AND", [">=", "k", 10], ["<", "k", 20]]' \
        --columns k,v --limit 10 [--csv-out DIR]
    python -m kudu_spark.cli copy      --warehouse WH SRC DST
    python -m kudu_spark.cli backup    --warehouse WH TABLE --dir B
    python -m kudu_spark.cli restore   --warehouse WH TABLE --dir B [--as NEW]
    python -m kudu_spark.cli statistics --warehouse WH TABLE
    python -m kudu_spark.cli checksum  --warehouse WH TABLE
    python -m kudu_spark.cli locate-row --warehouse WH TABLE --pk '{"k": 5}'
    python -m kudu_spark.cli loadgen   --warehouse WH TABLE --rows 100000
    python -m kudu_spark.cli compact   --warehouse WH TABLE [--io-budget-bytes N] [--plan-only]
    python -m kudu_spark.cli maintenance --warehouse WH [--max-sweeps N]
    python -m kudu_spark.cli train-cells --warehouse WH TABLE COLUMN [--cells N]
    python -m kudu_spark.cli converge-cells --warehouse WH TABLE [--budget-bytes N]
    python -m kudu_spark.cli ann       --warehouse WH TABLE COLUMN KEY... [-k N]
    python -m kudu_spark.cli ann       --warehouse WH TABLE COLUMN --vector '[...]' [-k N]
    python -m kudu_spark.cli sql       --warehouse WH 'SELECT ...'

Predicates use the `kudu table scan` JSON grammar
(table_scanner.cc:113-131): [op, col, value] with op in <= < = > >=,
["IN", col, [...]], ["NULL"/"NOTNULL", col], ["AND", ...].
"""

from __future__ import annotations

import argparse
import json
import sys


def _engine(args):
    from kudu_spark.engine import Engine
    from kudu_spark.session import get_spark

    return Engine(get_spark(app_name="pyskudu-cli"), args.warehouse)


def _typed_pk(eng, table: str, pk: dict) -> dict:
    """``--pk`` JSON values as the typed literals locate_row hashes: a
    timestamp is an ISO-8601 string (naive = the session time zone),
    a decimal a JSON number or numeric string, a float/double any JSON
    number, and binary a hex string. Other values pass unchanged."""
    import datetime
    import decimal
    from zoneinfo import ZoneInfo

    st = eng.table(table).state()
    hashed = {c for dim in st.partition_spec.hash_dims for c in dim.columns}
    out = dict(pk)
    for c in hashed & out.keys():
        v, t = out[c], st.schema.col(c).type.strip().lower()
        if v is None or isinstance(v, bool):
            continue
        if t == "timestamp" and isinstance(v, str):
            v = datetime.datetime.fromisoformat(v)
            if v.tzinfo is None:
                tz = eng.spark.conf.get("spark.sql.session.timeZone")
                v = v.replace(tzinfo=ZoneInfo(tz))
        elif t.startswith("decimal") and isinstance(v, (int, float)):
            v = decimal.Decimal(str(v))
        elif t in ("double", "float", "real") and isinstance(v, (int, str)):
            v = float(v)
        elif t == "binary" and isinstance(v, str):
            v = bytes.fromhex(v)
        out[c] = v
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="pyskudu")
    p.add_argument("--warehouse", required=True)
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list")
    for name in ("describe", "statistics", "checksum"):
        sp = sub.add_parser(name)
        sp.add_argument("table")
    sp = sub.add_parser("scan")
    sp.add_argument("table")
    sp.add_argument("--predicates", default=None)
    sp.add_argument("--columns", default=None)
    sp.add_argument("--limit", type=int, default=None)
    sp.add_argument("--ordered", action="store_true")
    sp.add_argument("--version", type=int, default=None)
    sp.add_argument("--csv-out", default=None)
    sp = sub.add_parser("copy")
    sp.add_argument("src")
    sp.add_argument("dst")
    sp = sub.add_parser("backup")
    sp.add_argument("table")
    sp.add_argument("--dir", required=True)
    sp.add_argument("--full", action="store_true", help="force a full backup")
    sp = sub.add_parser("restore")
    sp.add_argument("table")
    sp.add_argument("--dir", required=True)
    sp.add_argument("--as", dest="new_name", default=None)
    sp = sub.add_parser("locate-row")
    sp.add_argument("table")
    sp.add_argument("--pk", required=True, help=(
        'JSON dict, e.g. {"k": 5}; timestamps as ISO-8601 strings '
        '(naive = session time zone), binary as hex strings'))
    sp = sub.add_parser("loadgen", help="synthetic write benchmark "
                        "(= `kudu perf loadgen`, tools/tool_action_perf.cc)")
    sp.add_argument("table")
    sp.add_argument("--rows", type=int, default=100_000)
    sp.add_argument("--batches", type=int, default=1)
    sp.add_argument("--buckets", type=int, default=8)
    sp.add_argument("--flush-per-batch", action="store_true",
                    help="one commit per batch (default: one commit total)")
    sp = sub.add_parser("fsck",
                        help="warehouse integrity check (= offline ksck + "
                             "`kudu fs check`): missing/size-mismatched "
                             "manifest files, bad sidecars, orphans, log gaps")
    sp.add_argument("table", nargs="?", default=None)
    sp.add_argument("--repair", action="store_true",
                    help="delete orphaned files (quiet warehouse only)")
    sp = sub.add_parser("set-replication-factor",
                        help="store a table's replication factor as metadata "
                             "(= `kudu table set_replication_factor`)")
    sp.add_argument("table")
    sp.add_argument("factor", type=int)
    sp.add_argument("--allow-unsafe", action="store_true")
    sp = sub.add_parser("compact")
    sp.add_argument("table")
    sp.add_argument("--io-budget-bytes", type=int, default=None)
    sp.add_argument("--plan-only", action="store_true",
                    help="print the budgeted compaction plan, do nothing")
    sp = sub.add_parser(
        "maintenance",
        help="run budget-bounded maintenance sweeps until no table "
             "has work left (MaintenanceManager model); each sweep "
             "gives every table one maintenance pass. Prints the "
             "sweep count and per-table errors; exits 1 on any error",
    )
    sp.add_argument("--max-sweeps", type=int, default=64)
    sp = sub.add_parser(
        "vacuum",
        help="physically delete files no retained snapshot references "
             "(tablet history GC; records the ancient history mark)",
    )
    sp.add_argument("table")
    sp.add_argument("--keep-versions", type=int, default=0)
    sp.add_argument("--retention-seconds", type=int, default=None)
    sp.add_argument("--force", action="store_true",
                    help="skip the live-reader/in-flight-writer guards "
                         "(only HEAD safe to read afterwards)")
    sp = sub.add_parser(
        "train-cells",
        help="train/refresh a column's frozen IVF cell model "
             "(vector_cell_cols): later writes derive the stored "
             "__ivfc_<col> assignment; ann_topk serves from it",
    )
    sp.add_argument("table")
    sp.add_argument("column")
    sp.add_argument("--cells", type=int, default=8)
    sp.add_argument("--iters", type=int, default=3)
    sp = sub.add_parser(
        "converge-cells",
        help="run budgeted convergence steps for stale cell-model "
             "stamps (post train-cells/retrain): each step compacts "
             "the best stale partitions within --budget-bytes; hybrid "
             "serving keeps answers exact in between",
    )
    sp.add_argument("table")
    sp.add_argument("--budget-bytes", type=int, default=None)
    sp.add_argument("--max-steps", type=int, default=64)
    sp = sub.add_parser(
        "ann",
        help="serve ANN top-k through a table's stored IVF cells "
             "(train-cells first): positional PK keys look up stored "
             "rows; --vector '[...]' serves EXTERNAL query vectors; "
             "--quantized adds the int8-refine candidate pass over "
             "the stored __q8 column",
    )
    sp.add_argument("table")
    sp.add_argument("column")
    sp.add_argument("keys", nargs="*",
                    help="query PK values (int/decimal parsed, else string)")
    sp.add_argument("--vector", action="append", default=None,
                    metavar="JSON_ARRAY",
                    help="EXTERNAL query vector as a JSON array, e.g. "
                         "--vector '[0.1, 0.2, ...]' (repeatable; "
                         "query_id = position). Mutually exclusive "
                         "with positional PK keys")
    sp.add_argument("-k", type=int, default=5)
    sp.add_argument("--probes", type=int, default=2)
    sp.add_argument("--quantized", action="store_true")
    sp.add_argument("--refine", type=int, default=4)
    sp = sub.add_parser(
        "log-dump",
        help="print a table's commit log entries as JSON lines "
             "(≈ `kudu wal dump` / `kudu local_replica dump wals`, "
             "tools/tool_action_wal.cc — our WAL is the commit log)",
    )
    sp.add_argument("table")
    sp.add_argument("--min-version", type=int, default=None)
    sp.add_argument("--max-version", type=int, default=None)
    sp.add_argument("--ops-only", action="store_true",
                    help="one summary line per commit instead of full payloads")
    sp = sub.add_parser(
        "sql",
        help="run SQL statement(s) over the warehouse (SELECT + the "
             "Impala-on-Kudu DML/DDL surface; ';'-separated scripts ok)",
    )
    sp.add_argument("statement", nargs="?", default=None)
    sp.add_argument("--file", default=None, help="read the script from a file")
    sp.add_argument("--limit", type=int, default=None,
                    help="cap printed rows per statement")
    args = p.parse_args(argv)

    eng = _engine(args)
    if args.cmd == "list":
        print("\n".join(eng.list_tables()))
    elif args.cmd == "describe":
        # ≈ `kudu table describe`: schema + partitioning, then OWNER /
        # REPLICAS / comment (tools/tool_action_table.cc:1975-1978)
        st = eng.table(args.table).state()
        out = {
            "schema": st.schema.to_json(),
            "partition_spec": st.partition_spec.to_json(),
            "version": st.version,
            "owner": st.props.get("owner", ""),
            "replicas": int(st.props.get("replication_factor", 1)),
        }
        if st.props.get("comment"):
            out["comment"] = st.props["comment"]
        print(json.dumps(out, indent=2))
    elif args.cmd == "statistics":
        print(json.dumps(eng.table(args.table).statistics()))
    elif args.cmd == "checksum":
        print(json.dumps(eng.table(args.table).checksum()))
    elif args.cmd == "scan":
        from kudu_spark.plans.predicates import parse_predicates

        t = eng.table(args.table)
        filters = parse_predicates(args.predicates) if args.predicates else None
        cols = args.columns.split(",") if args.columns else None
        df = t.scan(columns=cols, filters=filters, limit=args.limit,
                    ordered=args.ordered, version=args.version)
        if args.csv_out:
            df.write.option("header", "true").mode("overwrite").csv(args.csv_out)
        else:
            for row in df.toLocalIterator():
                print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "copy":
        from kudu_spark.sources import copy_table

        copy_table(eng, args.src, args.dst)
        print(f"copied {args.src} -> {args.dst}")
    elif args.cmd == "backup":
        from kudu_spark.sources import backup

        meta = backup(eng.table(args.table), args.dir,
                      incremental=False if args.full else None)
        print(json.dumps(meta))
    elif args.cmd == "restore":
        from kudu_spark.sources import restore

        t = restore(eng, args.dir, args.table, new_name=args.new_name)
        print(f"restored {args.table} as {t.name} ({t.scan().count()} rows)")
    elif args.cmd == "locate-row":
        pk = _typed_pk(eng, args.table, json.loads(args.pk))
        print(json.dumps(eng.locate_row(args.table, pk)))
    elif args.cmd == "log-dump":
        from kudu_spark.meta import read_log

        t = eng.table(args.table)
        for c in read_log(t.root, max_version=args.max_version,
                          min_version=args.min_version):
            if args.ops_only:
                adds = sum(1 for a in c.get("actions", []) if a["type"] == "add")
                rms = sum(1 for a in c.get("actions", []) if a["type"] == "remove")
                rows = sum(a["file"].get("rows", 0)
                           for a in c.get("actions", []) if a["type"] == "add")
                print(json.dumps({
                    "version": c["version"], "op": c.get("op"),
                    "timestamp_ms": c.get("timestamp_ms"),
                    "adds": adds, "removes": rms, "rows_added": rows,
                }))
            else:
                print(json.dumps(c))
    elif args.cmd == "loadgen":
        import time as _time

        from pyspark.sql import functions as F

        t = eng.create_table(
            args.table,
            [("key", "bigint", False), ("int_val", "int", True), ("string_val", "string", True)],
            pk=["key"],
            hash_partitions=[{"columns": ["key"], "buckets": args.buckets}],
            if_not_exists=True,
        )
        base = t.count()
        per = args.rows // args.batches
        t0 = _time.perf_counter()
        for b in range(args.batches):
            df = eng.spark.range(base + b * per, base + (b + 1) * per).select(
                F.col("id").alias("key"),
                (F.col("id") % 1_000_000).cast("int").alias("int_val"),
                F.concat(F.lit("val_"), F.col("id")).alias("string_val"),
            )
            t.insert(df)
        sec = _time.perf_counter() - t0
        print(json.dumps({
            "table": args.table, "rows": per * args.batches, "batches": args.batches,
            "sec": round(sec, 2), "rows_per_sec": round(per * args.batches / sec),
        }))
    elif args.cmd == "maintenance":
        sweeps, errors = 0, {}
        while sweeps < args.max_sweeps:
            did = eng.maintenance_sweep()
            errors.update(did.pop("__errors__", {}))
            sweeps += 1
            if not any(did.values()):
                break
        print(json.dumps({"sweeps": sweeps, "errors": errors}))
        return 1 if errors else 0
    elif args.cmd == "fsck":
        report = eng.fsck(args.table, repair=args.repair)
        print(json.dumps(report))
        return 0 if all(r["ok"] for r in report.values()) else 1
    elif args.cmd == "set-replication-factor":
        eng.set_replication_factor(args.table, args.factor,
                                   allow_unsafe=args.allow_unsafe)
        print(json.dumps({"table": args.table, "replication_factor": args.factor}))
    elif args.cmd == "compact":
        t = eng.table(args.table)
        if args.plan_only:
            plan = t.compaction_plan(io_budget_bytes=args.io_budget_bytes)
            print(json.dumps([{**c, "partition": [list(c["partition"][0]), c["partition"][1]]}
                              for c in plan]))
        else:
            v = t.compact(io_budget_bytes=args.io_budget_bytes)
            print(json.dumps({"compacted": v is not None, "version": v}))
    elif args.cmd == "vacuum":
        t = eng.table(args.table)
        removed = t.vacuum(keep_versions=args.keep_versions,
                           retention_seconds=args.retention_seconds,
                           force=args.force)
        print(json.dumps({"removed": removed,
                          "ancient_history_mark": t.ancient_history_mark()}))
    elif args.cmd == "train-cells":
        t = eng.table(args.table)
        t.train_vector_cells(args.column, n_cells=args.cells,
                             n_iters=args.iters)
        print(json.dumps({"table": args.table, "column": args.column,
                          "cells": args.cells, "iters": args.iters}))
    elif args.cmd == "converge-cells":
        t = eng.table(args.table)
        steps = []
        for _ in range(args.max_steps):
            conv = t.converge_vector_cells(io_budget_bytes=args.budget_bytes)
            steps.append(conv)
            if not conv["partitions"]:
                break
        print(json.dumps({"table": args.table, "steps": len(steps),
                          "partitions": sum(s["partitions"] for s in steps),
                          "spent_bytes": sum(s["spent_bytes"] for s in steps),
                          "stale_partitions_left":
                              steps[-1]["stale_partitions_left"] if steps else 0}))
    elif args.cmd == "ann":
        def _key(v):
            try:
                return int(v)
            except ValueError:
                try:
                    return float(v)
                except ValueError:
                    return v

        t = eng.table(args.table)
        if bool(args.keys) == bool(args.vector):
            p.error("ann takes EITHER positional PK keys OR --vector "
                    "(at least one, not both)")
        if args.vector:
            qs = [(i, [float(x) for x in json.loads(v)])
                  for i, v in enumerate(args.vector)]
            df = t.ann_topk_vectors(args.column, qs, k=args.k,
                                    n_probes=args.probes,
                                    quantized=args.quantized,
                                    refine=args.refine)
        else:
            df = t.ann_topk(args.column, [_key(v) for v in args.keys],
                            k=args.k, n_probes=args.probes,
                            quantized=args.quantized,
                            refine=args.refine)
        for r in df.collect():
            print(json.dumps(r.asDict()))
    elif args.cmd == "sql":
        if args.file:
            with open(args.file) as f:
                script = f.read()
        elif args.statement:
            script = args.statement
        else:
            p.error("sql needs a statement or --file")
        for df in eng.sql_script(script):
            it = df.toLocalIterator()
            for i, row in enumerate(it):
                if args.limit is not None and i >= args.limit:
                    break
                print(json.dumps(row.asDict(), default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Round-2 parity features: O(1) table statistics (client.h:1568),
per-column storage attributes (common.proto:134-170), fault-tolerant
ordered-scan resume (tserver.proto:344-346), read modes
(common.proto:268)."""

from __future__ import annotations

import os

import pytest

from kudu_spark.engine import Engine
from kudu_spark.errors import KuduSparkError

SCHEMA = [("k", "bigint", False), ("v", "int", True), ("s", "string", True)]


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [(k, k * 10, f"s{k}") for k in range(lo, hi)], "k bigint, v int, s string"
    )


# -- statistics ---------------------------------------------------------------


def test_statistics_without_spark_job(engine, spark):
    """insert/delete/update histories fold commit row deltas — no scan,
    no Spark job (Kudu's KuduTableStatistics is a metadata call)."""
    t = engine.create_table("st1", SCHEMA, pk=["k"])
    t.insert(_rows(spark, 0, 1000))
    t.delete(_rows(spark, 0, 100).select("k"))
    t.update(_rows(spark, 500, 600).selectExpr("k", "v + 1 as v"))
    sc = spark.sparkContext
    sc.setJobGroup("stats-jobs", "statistics must not scan")
    try:
        stats = t.statistics()
    finally:
        sc.setJobGroup(None, None)
    assert stats["live_row_count"] == 900
    assert sc.statusTracker().getJobIdsForGroup("stats-jobs") == []


def test_statistics_clean_and_upsert_paths(engine, spark):
    t = engine.create_table("st2", SCHEMA, pk=["k"])
    t.insert(_rows(spark, 0, 500))
    # clean table: manifest-only
    assert t.statistics()["live_row_count"] == 500
    # upsert (200 replaced, 100 new): falls back to the counting fast
    # path — still correct
    t.upsert(_rows(spark, 300, 600))
    assert t.statistics()["live_row_count"] == 600
    # after compaction the table is clean again: manifest-only
    t.compact()
    sc = spark.sparkContext
    sc.setJobGroup("stats-clean", "clean table stats")
    try:
        assert t.statistics()["live_row_count"] == 600
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("stats-clean") == []


# -- per-column storage attributes -------------------------------------------


def test_column_attrs_round_trip_and_parquet(engine, spark):
    """encoding/compression/block_size survive the DDL round trip and
    reach the parquet writer: PLAIN_ENCODING disables the dictionary
    for the column, ZLIB compresses the file with gzip."""
    t = engine.create_table(
        "attrs",
        [
            {"name": "k", "type": "bigint", "nullable": False},
            {"name": "v", "type": "int", "encoding": "PLAIN_ENCODING",
             "compression": "ZLIB", "block_size": 65536},
            {"name": "s", "type": "string"},
        ],
        pk=["k"],
    )
    spec = t.schema.col("v")
    assert spec.encoding == "PLAIN_ENCODING"
    assert spec.compression == "ZLIB"
    assert spec.block_size == 65536
    # low-cardinality v and s so the writer WOULD dictionary-encode
    # both by default — proving the PLAIN attr suppressed it on v only
    t.insert(spark.createDataFrame(
        [(k, k % 40, f"s{k % 40}") for k in range(2000)], "k bigint, v int, s string"
    ))

    import pyarrow.parquet as pq

    f = t.state().files[0]
    md = pq.ParquetFile(os.path.join(t.root, f.path)).metadata
    by_name = {md.schema.column(i).name: i for i in range(md.num_columns)}
    col_v = md.row_group(0).column(by_name["v"])
    col_s = md.row_group(0).column(by_name["s"])
    assert col_v.compression == "GZIP"
    assert "PLAIN_DICTIONARY" not in col_v.encodings and "RLE_DICTIONARY" not in col_v.encodings
    # the column without attrs keeps the dictionary default
    assert "PLAIN_DICTIONARY" in col_s.encodings or "RLE_DICTIONARY" in col_s.encodings


def test_alter_add_column_with_attrs(engine, spark):
    t = engine.create_table("attrs2", SCHEMA, pk=["k"])
    engine.alter_table("attrs2").add_column(
        "w", "double", encoding="PLAIN_ENCODING", compression="SNAPPY"
    ).apply()
    assert t.schema.col("w").encoding == "PLAIN_ENCODING"
    assert t.schema.col("w").compression == "SNAPPY"


# -- ordered-scan resume ------------------------------------------------------


def test_ordered_scan_resume_no_dup_no_loss(engine, spark):
    t = engine.create_table("res1", SCHEMA, pk=["k"])
    t.insert(_rows(spark, 0, 1000))
    full = [r.k for r in t.scan(ordered=True).select("k").collect()]
    first = full[:337]
    resumed = [
        r.k
        for r in t.scan(ordered=True, start_after_pk=[first[-1]]).select("k").collect()
    ]
    assert first + resumed == full  # no dup, no loss, order preserved


def test_resume_composite_pk_lexicographic(engine, spark):
    t = engine.create_table(
        "res2", [("a", "bigint", False), ("b", "bigint", False), ("v", "int", True)],
        pk=["a", "b"],
    )
    t.insert(spark.createDataFrame(
        [(i // 10, i % 10, i) for i in range(200)], "a bigint, b bigint, v int"
    ))
    rows = [(r.a, r.b) for r in t.scan(ordered=True).select("a", "b").collect()]
    cut = rows[73]
    resumed = [
        (r.a, r.b)
        for r in t.scan(ordered=True, start_after_pk=list(cut)).select("a", "b").collect()
    ]
    assert resumed == rows[74:]  # strictly after (a, b), lexicographic


def test_scan_token_resume(engine, spark):
    t = engine.create_table("res3", SCHEMA, pk=["k"])
    t.insert(_rows(spark, 0, 500))
    tokens = t.scan_tokens()
    assert all(tok["last_primary_key"] is None for tok in tokens)
    tok = tokens[0]
    rows = [r.k for r in t.token_to_df(tok, ordered=True).select("k").collect()]
    # reader died after emitting 100 rows: resume with the last PK
    tok["last_primary_key"] = [rows[99]]
    rest = [r.k for r in t.token_to_df(tok, ordered=True).select("k").collect()]
    assert rows[:100] + rest == rows


# -- budgeted compaction policy ----------------------------------------------


def test_compaction_plan_budget_prefers_delta_heavy(engine, spark):
    """The policy knapsack (compaction_policy.h:74-129 analogue) ranks
    partitions by benefit per rewrite byte — delta-heavy partitions
    first — and an IO budget bounds the chosen set."""
    t = engine.create_table(
        "cpol", SCHEMA, pk=["k"],
        range_partition={"column": "k", "splits": [500]},
    )
    t.insert(_rows(spark, 0, 1000))
    # dirty only range 0 with deltas
    t.upsert(_rows(spark, 0, 300))
    plan = t.compaction_plan()
    assert plan, "dirty partition must be planned"
    assert plan[0]["delta_bytes"] > 0
    dirty_parts = {c["partition"] for c in plan}
    assert all(p[1] == 0 for p in dirty_parts), "only the mutated range is planned"
    # a budget that fits one partition picks (at least) the best one
    budget = plan[0]["cost_bytes"]
    capped = t.compaction_plan(io_budget_bytes=budget)
    assert capped and capped[0]["partition"] == plan[0]["partition"]
    # compact under budget folds the chosen partition; scan unchanged
    before = {r.k: r.v for r in t.scan().collect()}
    v = t.compact(io_budget_bytes=budget)
    assert v is not None
    after = {r.k: r.v for r in t.scan().collect()}
    assert after == before
    remaining = [f for f in t.state().files if f.kind == "delta"]
    assert not any(f.partition.get("range") == capped[0]["partition"][1] for f in remaining)


def test_cli_loadgen_and_compact(spark, tmp_path, capsys):
    import json

    from kudu_spark import cli

    wh = str(tmp_path / "wh")
    assert cli.main(["--warehouse", wh, "loadgen", "lg", "--rows", "5000",
                     "--batches", "2", "--buckets", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 5000 and out["rows_per_sec"] > 0
    from kudu_spark.engine import Engine

    assert Engine(spark, wh).table("lg").count() == 5000
    assert cli.main(["--warehouse", wh, "compact", "lg", "--plan-only"]) == 0
    capsys.readouterr()
    assert cli.main(["--warehouse", wh, "compact", "lg"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "compacted" in out
    # maintenance: nothing left to do -> one sweep, no errors, exit 0
    assert cli.main(["--warehouse", wh, "maintenance"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"sweeps": 1, "errors": {}}
    # a table whose pass raises is printed and fails the command
    Engine(spark, wh).alter_table("lg").set_property(
        "history_max_age_sec", "soon").apply()
    assert cli.main(["--warehouse", wh, "maintenance"]) == 1
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sweeps"] == 1 and set(out["errors"]) == {"lg"}


# -- catalog polish: rename / comments / table properties ---------------------


def test_rename_comment_properties_wide_table(engine, spark):
    """Table rename (KuduTableAlterer::RenameTo), column comments
    (ColumnSchemaDelta.comment), table extra configs (AlterExtraConfig)
    and a wide (50-column) schema round trip."""
    import pytest as _pytest

    from kudu_spark.errors import TableNotFoundError

    wide = [("k", "bigint", False)] + [(f"c{i:02d}", "int", True) for i in range(49)]
    t = engine.create_table("w1", wide, pk=["k"])
    t.insert(spark.createDataFrame(
        [tuple([k] + [k * 100 + i for i in range(49)]) for k in range(200)],
        ", ".join(f"{n} {ty}" for n, ty, _ in wide),
    ))
    assert len(t.schema.columns) == 50
    row = t.scan(filters=[("k", "=", 7)]).collect()[0]
    assert row.c48 == 748

    engine.alter_table("w1").set_column_comment("c00", "first metric") \
        .set_property("history_max_age_sec", 3600).apply()
    t2 = engine.table("w1")
    assert t2.schema.col("c00").comment == "first metric"
    assert t2.state().props["history_max_age_sec"] == 3600

    engine.rename_table("w1", "w2")
    assert engine.table("w2").count() == 200
    with _pytest.raises(TableNotFoundError):
        engine.table("w1")
    with _pytest.raises(Exception):
        engine.rename_table("w2", "w2")


# -- compound (multi-column) range keys ---------------------------------------


def test_compound_range_partitioning(engine, spark):
    """Range component over multiple PK columns (partition.h:273):
    lexicographic bounds route writes, reject uncovered rows, and
    prune on the leading column."""
    t = engine.create_table(
        "cr", [("a", "bigint", False), ("b", "bigint", False), ("v", "int", True)],
        pk=["a", "b"],
        range_partition={"columns": ["a", "b"],
                         "ranges": [[[0, 0], [5, 0]], [[5, 0], [10, 0]]]},
    )
    rows = [(a, b, a * 10 + b) for a in range(10) for b in range(4)]
    t.insert(spark.createDataFrame(rows, "a bigint, b bigint, v int"))
    st = t.state()
    by_range = {}
    for f in st.files:
        by_range.setdefault(f.partition.get("range"), 0)
        by_range[f.partition.get("range")] += f.rows
    # rows with a<5 -> range 0 (20 rows), a in [5,10) -> range 1 (20)
    assert by_range == {0: 20, 1: 20}
    # leading-column pruning
    assert {f.partition.get("range") for f in t._prune(st, [("a", "<", 5)])} == {0}
    assert {f.partition.get("range") for f in t._prune(st, [("a", "=", 7)])} == {1}
    # boundary: (5, b) sorts >= [5,0] -> range 1, and "=" pruning keeps
    # range 0 alive only if the bound admits it (here hi=[5,0] binds
    # both cols, so a=5 rows can still sit in range 0 when b<0 — none
    # do, but the planner must keep it only when admissible)
    got = {(r.a, r.b): r.v for r in t.scan(filters=[("a", "=", 5)]).collect()}
    assert got == {(5, b): 50 + b for b in range(4)}
    # uncovered row rejected in-write
    import pytest as _pytest

    from kudu_spark.errors import KuduSparkError

    with _pytest.raises(KuduSparkError, match="range"):
        t.insert(spark.createDataFrame([(10, 0, 1)], "a bigint, b bigint, v int"))
    # locate_row evaluates the compound range + full scan stays exact
    assert engine.locate_row("cr", {"a": 7, "b": 3})["range"] == 1
    assert t.count() == 40


def test_compound_range_partial_bounds_and_alter(engine, spark):
    """Partial bounds (shorter than the column list) leave trailing
    columns unbounded; online add_range_partition accepts compound
    bounds."""
    t = engine.create_table(
        "cr2", [("a", "bigint", False), ("b", "bigint", False), ("v", "int", True)],
        pk=["a", "b"],
        range_partition={"columns": ["a", "b"],
                         "ranges": [[None, [5]], [[5], [10]]]},
    )
    t.insert(spark.createDataFrame(
        [(a, b, a) for a in range(10) for b in range(3)], "a bigint, b bigint, v int"
    ))
    st = t.state()
    ranges = {f.partition.get("range") for f in st.files}
    assert ranges == {0, 1}
    # hi=[5] binds only the leading col: a=5 rows all land in range 1,
    # and "=" pruning on the boundary value excludes range 0
    assert {f.partition.get("range") for f in t._prune(st, [("a", "=", 5)])} == {1}
    engine.alter_table("cr2").add_range_partition([10], [15]).apply()
    # the alter must PRESERVE the compound range spec (r5 regression:
    # the rebuilt RangeSpec dropped `columns`, silently disabling the
    # range component — client.h:2006-2099 keeps the schema intact)
    st2 = t.state()
    rs = st2.partition_spec.range_spec
    assert rs.enabled and rs.cols == ["a", "b"]
    t.insert(spark.createDataFrame([(12, 0, 12)], "a bigint, b bigint, v int"))
    assert t.scan(filters=[("a", "=", 12)]).count() == 1
    assert t.count() == 31
    # new files carry real range ids, not None
    assert all(f.partition.get("range") is not None for f in t.state().files)
    # an out-of-range row still raises post-alter
    from kudu_spark.errors import KuduSparkError as _KSE

    with pytest.raises(_KSE, match="range"):
        t.insert(spark.createDataFrame([(99, 0, 1)], "a bigint, b bigint, v int"))
    # drop-range variant: enforcement + compound spec survive the remap
    engine.alter_table("cr2").drop_range_partition([10], [15]).apply()
    rs3 = t.state().partition_spec.range_spec
    assert rs3.enabled and rs3.cols == ["a", "b"] and len(rs3.ranges) == 2
    assert t.scan(filters=[("a", "=", 12)]).count() == 0  # dropped rows gone
    with pytest.raises(_KSE, match="range"):
        t.insert(spark.createDataFrame([(12, 0, 12)], "a bigint, b bigint, v int"))


# -- read modes ---------------------------------------------------------------


def test_read_modes(engine, spark):
    t = engine.create_table("rm", SCHEMA, pk=["k"])
    t.insert(_rows(spark, 0, 10))
    assert t.scan(read_mode="READ_YOUR_WRITES").count() == 10
    t.insert(_rows(spark, 10, 20))
    # read-your-writes: the write this client just made is visible
    assert t.scan(read_mode="READ_YOUR_WRITES").count() == 20
    with pytest.raises(KuduSparkError):
        t.scan(read_mode="READ_AT_SNAPSHOT")
    assert t.scan(read_mode="READ_AT_SNAPSHOT", version=2).count() == 10
    with pytest.raises(KuduSparkError):
        t.scan(read_mode="SOMETHING_ELSE")


def test_prefix_and_bitshuffle_encodings_reach_parquet(engine, spark):
    """PREFIX/BIT_SHUFFLE column attributes map to the parquet v2
    analogues (cfile/type_encodings.cc:129-233): DELTA_BYTE_ARRAY
    (shared-prefix compression) for the PREFIX string column,
    DELTA_BINARY_PACKED (bit-packed deltas) for the BIT_SHUFFLE int
    column — with the dictionary suppressed on those columns so the
    encodings actually engage."""
    import os

    import pyarrow.parquet as pq

    t = engine.create_table(
        "enc2",
        [
            {"name": "k", "type": "bigint", "nullable": False},
            {"name": "url", "type": "string", "encoding": "PREFIX_ENCODING"},
            {"name": "n", "type": "bigint", "encoding": "BIT_SHUFFLE"},
            {"name": "s", "type": "string"},
        ],
        pk=["k"],
    )
    # high-cardinality shared-prefix strings + smooth ints: the shapes
    # the two encodings exist for
    t.insert(spark.createDataFrame(
        [(k, f"https://example.com/path/{k}", 1000000 + k, f"s{k % 5}")
         for k in range(3000)],
        "k bigint, url string, n bigint, s string",
    ))
    f = t.state().files[0]
    md = pq.ParquetFile(os.path.join(t.root, f.path)).metadata
    by_name = {md.schema.column(i).name: i for i in range(md.num_columns)}
    enc_url = md.row_group(0).column(by_name["url"]).encodings
    enc_n = md.row_group(0).column(by_name["n"]).encodings
    enc_s = md.row_group(0).column(by_name["s"]).encodings
    assert "DELTA_BYTE_ARRAY" in enc_url, enc_url
    assert "DELTA_BINARY_PACKED" in enc_n, enc_n
    # untouched column keeps the dictionary default
    assert "PLAIN_DICTIONARY" in enc_s or "RLE_DICTIONARY" in enc_s, enc_s
    # round trip intact
    assert t.scan(filters=[("k", "=", 7)]).collect()[0].url.endswith("/7")


def test_cli_vacuum(spark, tmp_path, capsys):
    """`vacuum` CLI: compact-then-vacuum reclaims files and records the
    ancient history mark (tablet history GC admin surface)."""
    import json

    from kudu_spark import cli
    from kudu_spark.engine import Engine

    from pyspark.sql import functions as F

    wh = str(tmp_path / "whv")
    eng = Engine(spark, wh)
    t = eng.create_table("vt", [("k", "bigint", False), ("v", "string", True)],
                         pk=["k"])
    rows = lambda s_: spark.range(2000).select(
        F.col("id").alias("k"), F.lit(s_).alias("v"))
    t.insert(rows("a"))
    t.upsert(rows("b"))
    t.compact()  # leaves the pre-compaction files unreferenced
    capsys.readouterr()
    assert cli.main(["--warehouse", wh, "vacuum", "vt", "--force"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["removed"] > 0
    assert out["ancient_history_mark"] == eng.table("vt").version
    assert eng.table("vt").count() == 2000


def test_cli_train_cells(spark, tmp_path, capsys):
    """`train-cells` CLI: trains the frozen IVF cell model from the
    admin surface; ann_topk serves immediately after."""
    import json

    from kudu_spark import cli
    from kudu_spark.engine import Engine
    from kudu_spark.queries import load

    wh = str(tmp_path / "whtc")
    eng = Engine(spark, wh)
    t = eng.create_table(
        "tc", [("vec_id", "bigint", False),
               ("embedding", "array<float>", True),
               ("label", "int", True)], pk=["vec_id"])
    t.insert(load(spark, "/root/testdata/sf0.001", "embeddings"))
    capsys.readouterr()
    assert cli.main(["--warehouse", wh, "train-cells", "tc", "embedding",
                     "--cells", "4", "--iters", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"table": "tc", "column": "embedding",
                   "cells": 4, "iters": 2}
    t = eng.table("tc")
    assert t.state().props.get("vector_cell_cols") == "embedding"
    assert t.ann_topk("embedding", [10, 20], k=3).count() == 6


def test_cli_ann_serve_and_model_stats(spark, tmp_path, capsys):
    """`ann` CLI action serves top-k (exact and int8-refine) as JSON
    lines, and Table.statistics surfaces per-column vector model
    health (model_id / n_cells / stale_fraction) — the O(metadata)
    number the maintenance auto-retrain thresholds on."""
    import json

    from kudu_spark import cli
    from kudu_spark.engine import Engine
    from kudu_spark.queries import load

    wh = str(tmp_path / "whann")
    eng = Engine(spark, wh)
    t = eng.create_table(
        "av", [("vec_id", "bigint", False),
               ("embedding", "array<float>", True),
               ("label", "int", True)], pk=["vec_id"])
    t.insert(load(spark, "/root/testdata/sf0.001", "embeddings"))
    t = eng.table("av")
    t.train_vector_cells("embedding", n_cells=4, n_iters=2)
    eng.alter_table("av").set_property(
        "vector_quantize_cols", "embedding").apply()

    # pre-convergence: every file predates training -> 100% stale
    t = eng.table("av")
    stats = t.statistics()
    m = stats["vector_cell_models"]["embedding"]
    assert m["n_cells"] == 4 and m["stale_fraction"] == 1.0

    capsys.readouterr()
    assert cli.main(["--warehouse", wh, "ann", "av", "embedding",
                     "10", "20", "-k", "3", "--probes", "2"]) == 0
    rows = [json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 6
    assert {r["query_id"] for r in rows} == {10, 20}
    assert all(set(r) == {"query_id", "neighbor_id", "rank", "cosine"}
               for r in rows)

    t.compact(full=True)
    t = eng.table("av")
    assert t.statistics()["vector_cell_models"]["embedding"][
        "stale_fraction"] == 0.0
    # quantized serve through the CLI matches the API path
    capsys.readouterr()
    assert cli.main(["--warehouse", wh, "ann", "av", "embedding",
                     "10", "20", "-k", "3", "--probes", "2",
                     "--quantized", "--refine", "1000"]) == 0
    got = sorted(tuple(json.loads(ln).values()) for ln in
                 capsys.readouterr().out.strip().splitlines())
    want = sorted(tuple(r) for r in
                  t.ann_topk("embedding", [10, 20], k=3, n_probes=2).collect())
    assert got == want


def test_cli_and_sql_external_vector_ann(spark, tmp_path, capsys):
    """VERDICT r13 #4: the external-query-vector serve endpoint has a
    CLI spelling (`ann --vector '[...]'`, repeatable) and a SQL
    spelling (`ANN_TOPK('t', 'col', ARRAY[...], k[, probes[,
    quantized[, refine]]])` as a FROM source) — both returning rows
    identical to Table.ann_topk_vectors, composable in a join, and
    rejecting malformed input with a clear error."""
    import json

    import pytest as _pytest

    from kudu_spark import cli
    from kudu_spark.engine import Engine
    from kudu_spark.queries import load

    wh = str(tmp_path / "whav")
    eng = Engine(spark, wh)
    t = eng.create_table(
        "xv", [("vec_id", "bigint", False),
               ("embedding", "array<float>", True),
               ("label", "int", True)], pk=["vec_id"])
    t.insert(load(spark, "/root/testdata/sf0.001", "embeddings"))
    t = eng.table("xv")
    t.train_vector_cells("embedding", n_cells=4, n_iters=2)
    t = eng.table("xv")
    t.compact(full=True)
    t = eng.table("xv")

    # two external query vectors = two stored rows' embeddings, so
    # rank-1 must be the rows themselves at cosine 1.0
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in t.scan(filters=[("vec_id", "in", [10, 20])],
                            columns=["vec_id", "embedding"]).collect()}
    api = sorted(tuple(r) for r in t.ann_topk_vectors(
        "embedding", [(0, vecs[10]), (1, vecs[20])], k=3,
        n_probes=2).collect())
    assert {(q, r) for q, n, r, c in api if c == 1.0} >= {(0, 1), (1, 1)}

    # CLI --vector (repeatable; query_id = position)
    capsys.readouterr()
    assert cli.main(["--warehouse", wh, "ann", "xv", "embedding",
                     "--vector", json.dumps(vecs[10]),
                     "--vector", json.dumps(vecs[20]),
                     "-k", "3", "--probes", "2"]) == 0
    got = sorted(tuple(json.loads(ln).values()) for ln in
                 capsys.readouterr().out.strip().splitlines())
    assert got == api

    # keys and --vector are mutually exclusive (argparse error -> exit 2)
    with _pytest.raises(SystemExit):
        cli.main(["--warehouse", wh, "ann", "xv", "embedding", "10",
                  "--vector", json.dumps(vecs[10])])
    with _pytest.raises(SystemExit):
        cli.main(["--warehouse", wh, "ann", "xv", "embedding"])

    # SQL table source: identical rows to the API (single query vector)
    arr = ", ".join(str(x) for x in vecs[10])
    sql_rows = sorted(tuple(r) for r in eng.sql(
        f"SELECT query_id, neighbor_id, rank, cosine "
        f"FROM ANN_TOPK('xv', 'embedding', ARRAY[{arr}], 3, 2)").collect())
    want = sorted(tuple(r) for r in t.ann_topk_vectors(
        "embedding", [(0, vecs[10])], k=3, n_probes=2).collect())
    assert sql_rows == want

    # composes: join the TVF against the table to pull neighbor labels
    joined = eng.sql(
        f"SELECT a.rank, x.label FROM "
        f"ANN_TOPK('xv', 'embedding', ARRAY[{arr}], 3, 2) a "
        f"JOIN xv x ON x.vec_id = a.neighbor_id ORDER BY a.rank").collect()
    assert len(joined) == 3

    # malformed vector -> clear engine error
    with _pytest.raises(Exception, match="ANN_TOPK"):
        eng.sql("SELECT * FROM ANN_TOPK('xv', 'embedding', ARRAY[oops], 3)")


def test_cli_converge_cells(spark, tmp_path, capsys):
    """`converge-cells` drains stale cell-model stamps through
    budgeted compaction steps from the CLI — the manual spelling of
    the maintenance sweep's converge motion."""
    import json

    from kudu_spark import cli
    from kudu_spark.engine import Engine
    from kudu_spark.queries import load

    wh = str(tmp_path / "whcc")
    eng = Engine(spark, wh)
    t = eng.create_table(
        "cc", [("vec_id", "bigint", False),
               ("embedding", "array<float>", True),
               ("label", "int", True)], pk=["vec_id"],
        hash_partitions=[{"columns": ["vec_id"], "buckets": 4}])
    eng.table("cc").insert(load(spark, "/root/testdata/sf0.001", "embeddings"))
    t = eng.table("cc")
    t.train_vector_cells("embedding", n_cells=4, n_iters=2)
    assert eng.table("cc").vector_cell_staleness("embedding") == 1.0

    capsys.readouterr()
    # budget 1 byte -> one partition per step; 4 partitions -> 4 steps
    # (+1 terminal no-op step)
    assert cli.main(["--warehouse", wh, "converge-cells", "cc",
                     "--budget-bytes", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["partitions"] == 4 and out["steps"] == 5
    assert out["stale_partitions_left"] == 0
    assert eng.table("cc").vector_cell_staleness("embedding") == 0.0

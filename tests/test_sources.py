"""Bulk import/export, table copy, Avro schema export, backup/restore
(SURVEY §2.1: line_item_tsv_importer.h, table_scanner.cc copy mode,
tool_action_table.cc PopulateAvroSchema, java/kudu-backup)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from kudu_spark import vector
from kudu_spark.engine import Engine
from kudu_spark.sources import (
    avro_schema,
    backup,
    copy_table,
    export_csv,
    import_csv,
    restore,
)

SCHEMA = [
    ("k", "bigint", False),
    ("v", "int", True),
    ("s", "string", True),
]


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


def rows(spark, keys, v=0):
    return spark.createDataFrame(
        [(k, k * 10 + v, f"s{k}") for k in keys], "k bigint, v int, s string"
    )


def test_import_csv_tbl(engine, spark, tmp_path):
    tbl = tmp_path / "in.tbl"
    tbl.write_text("".join(f"{k}|{k * 10}|s{k}|\n" for k in range(50)))
    t = engine.create_table("imp", SCHEMA, pk=["k"])
    import_csv(t, str(tbl), sep="|")
    got = {r.k: (r.v, r.s) for r in t.scan().collect()}
    assert got == {k: (k * 10, f"s{k}") for k in range(50)}


def test_export_csv_predicated(engine, spark, tmp_path):
    t = engine.create_table("exp", SCHEMA, pk=["k"])
    t.insert(rows(spark, range(100)))
    out = str(tmp_path / "out")
    export_csv(t, out, predicates=["AND", [">=", "k", 10], ["<", "k", 20]])
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 10


def test_copy_table(engine, spark):
    t = engine.create_table(
        "src", SCHEMA, pk=["k"],
        hash_partitions=[{"columns": ["k"], "buckets": 4}],
    )
    t.insert(rows(spark, range(100)))
    t.delete(spark.createDataFrame([(7,), (8,)], "k bigint"))
    dst = copy_table(engine, "src", "dst")
    assert dst.scan().count() == 98
    assert [d.buckets for d in dst.state().partition_spec.hash_dims] == [4]
    # predicated copy
    dst2 = copy_table(engine, "src", "dst2", predicates=["<", "k", 10])
    assert dst2.scan().count() == 8  # 0-9 minus deleted 7,8


def test_avro_schema(engine):
    t = engine.create_table(
        "av",
        [("k", "bigint", False), ("d", "decimal(12,2)", True),
         ("ts", "timestamp", True), ("tags", "array<string>", True)],
        pk=["k"],
    )
    av = avro_schema(t)
    by_name = {f["name"]: f["type"] for f in av["fields"]}
    assert by_name["k"] == "long"
    assert by_name["d"][1]["logicalType"] == "decimal"
    assert by_name["ts"][1]["logicalType"] == "timestamp-micros"
    assert by_name["tags"][1]["type"] == "array"


def test_backup_restore_cycle(engine, spark, tmp_path):
    broot = str(tmp_path / "backups")
    t = engine.create_table("bk", SCHEMA, pk=["k"])
    t.insert(rows(spark, range(60)))
    m1 = backup(t, broot)                      # full
    assert m1["type"] == "full"
    t.upsert(rows(spark, [1, 2, 61], v=5))
    t.delete(spark.createDataFrame([(3,)], "k bigint"))
    m2 = backup(t, broot)                      # incremental
    assert m2["type"] == "incremental" and m2["from_version"] == m1["to_version"]
    # restore full+incremental into a new table
    r = restore(engine, broot, "bk", new_name="bk_restored")
    want = {(x.k, x.v, x.s) for x in t.scan().collect()}
    got = {(x.k, x.v, x.s) for x in r.scan().collect()}
    assert got == want
    # point-in-time restore: only the full window
    r2 = restore(engine, broot, "bk", new_name="bk_pit",
                 through_version=m1["to_version"])
    assert r2.scan().count() == 60
    # no-change incremental is skipped
    m3 = backup(t, broot)
    assert "skipped" in m3
    # a point in time BEFORE the earliest full is an error, not a
    # silent over-restore from a newer full
    with pytest.raises(ValueError, match="no full backup at or before"):
        restore(engine, broot, "bk", new_name="bk_too_early",
                through_version=m1["to_version"] - 1)


def test_backup_rebaseline_and_prune(engine, spark, tmp_path):
    """Periodic re-baselining: a second FULL backup starts a new chain;
    restore seeds from the latest full, point-in-time restores still
    reach the old chain, and prune_backups garbage-collects everything
    the latest chain no longer needs (kudu-backup-tools GC)."""
    from kudu_spark.sources import prune_backups
    from kudu_spark.sources.backup import _windows

    broot = str(tmp_path / "backups2")
    t = engine.create_table("bk2", SCHEMA, pk=["k"])
    t.insert(rows(spark, range(40)))
    m_full1 = backup(t, broot)                                   # chain 1 full
    t.upsert(rows(spark, [1, 2], v=5))
    backup(t, broot)                                             # chain 1 incr
    t.delete(spark.createDataFrame([(5,)], "k bigint"))
    m_full2 = backup(t, broot, incremental=False)                # chain 2 full
    t.upsert(rows(spark, [7, 41], v=9))
    backup(t, broot)                                             # chain 2 incr

    # restore uses the LATEST full's chain (replaying both fulls would
    # double-insert)
    r = restore(engine, broot, "bk2", new_name="bk2_r")
    want = {(x.k, x.v, x.s) for x in t.scan().collect()}
    assert {(x.k, x.v, x.s) for x in r.scan().collect()} == want
    # point-in-time before the second full seeds from the FIRST chain
    r2 = restore(engine, broot, "bk2", new_name="bk2_pit",
                 through_version=m_full1["to_version"])
    assert r2.scan().count() == 40
    # prune drops the superseded chain (2 windows), keeps the live one
    assert prune_backups(broot, "bk2") == 2
    wins = _windows(broot, "bk2")
    assert [w[0] == 0 for w in wins].count(True) == 1
    assert wins[0][1] == m_full2["to_version"]
    r3 = restore(engine, broot, "bk2", new_name="bk2_after")
    assert {(x.k, x.v, x.s) for x in r3.scan().collect()} == want


def test_copy_and_backup_preserve_compound_ranges(engine, spark, tmp_path):
    """Compound range specs survive copy_table and backup/restore."""
    t = engine.create_table(
        "cb", [("a", "bigint", False), ("b", "bigint", False), ("v", "int", True)],
        pk=["a", "b"],
        range_partition={"columns": ["a", "b"],
                         "ranges": [[None, [5]], [[5], None]]},
    )
    t.insert(spark.createDataFrame(
        [(a, b, a) for a in range(10) for b in range(2)], "a bigint, b bigint, v int"
    ))
    c = copy_table(engine, "cb", "cb_copy")
    assert c.state().partition_spec.range_spec.cols == ["a", "b"]
    assert c.count() == 20
    broot = str(tmp_path / "backups3")
    backup(t, broot)
    r = restore(engine, broot, "cb", new_name="cb_r")
    assert r.state().partition_spec.range_spec.cols == ["a", "b"]
    assert {(x.a, x.b) for x in r.scan().collect()} == {(a, b) for a in range(10) for b in range(2)}


def test_export_avro_schema_through_env(engine, tmp_path):
    """export_avro_schema routes through the Env (VERDICT r9 minor #4):
    a memory:// out_path lands in the memory store, a local path on
    local disk — never silently elsewhere."""
    import json as _json

    from kudu_spark import fs as _fs
    from kudu_spark.sources.bulk import export_avro_schema

    t = engine.create_table("ax", [("k", "bigint", False)], pk=["k"])
    _fs.MemoryEnv.reset()
    _fs._ENVS.pop("memory", None)
    try:
        out = "memory://exports/ax.avsc"
        export_avro_schema(t, out)
        env = _fs.env_for_root(out)
        got = _json.loads(env.read_bytes(out))
        assert got["name"] == "ax" and got["fields"][0]["name"] == "k"
    finally:
        _fs.MemoryEnv.reset()
    local = str(tmp_path / "ax.avsc")
    export_avro_schema(t, local)
    with open(local) as f:
        assert _json.load(f)["name"] == "ax"


def test_backup_restores_vector_cell_model(engine, spark, tmp_path):
    """A trained IVF cell model travels with the backup: the restored
    table serves ann_topk identically, and replayed/new writes derive
    the stored cell column from the SAME frozen centroids (without
    this, restore kept vector_cell_cols but silently dropped the
    model)."""
    from kudu_spark.queries import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    t = engine.create_table(
        "vcb", [("vec_id", "bigint", False),
                ("embedding", "array<float>", True),
                ("label", "int", True)], pk=["vec_id"])
    t.insert(emb)
    t = engine.table("vcb")
    t.train_vector_cells("embedding", n_cells=4, n_iters=2)
    t = engine.table("vcb")
    # converge pre-training files so source and restored tables serve
    # from the same (fully derived) cell state
    t.compact(full=True)
    t = engine.table("vcb")
    broot = str(tmp_path / "bk")
    backup(t, broot)
    # an incremental window on top (an upserted twin of vec 20)
    twin = emb.where(F.col("vec_id") == 20).select(
        F.lit(777000).cast("bigint").alias("vec_id"), "embedding",
        F.lit(0).alias("label"))
    t.upsert(twin)
    t = engine.table("vcb")
    backup(t, broot, incremental=True)

    dst = restore(engine, broot, "vcb", new_name="vcb2")
    assert vector.artifact(dst, "embedding") is not None
    src_rows = sorted(tuple(r) for r in
                      engine.table("vcb").ann_topk(
                          "embedding", [10, 20], k=5, n_probes=2).collect())
    dst_rows = sorted(tuple(r) for r in
                      engine.table("vcb2").ann_topk(
                          "embedding", [10, 20], k=5, n_probes=2).collect())
    assert dst_rows == src_rows
    # the upserted twin survived the incremental replay and is fresh
    assert any(r[0] == 20 and r[1] == 777000 and r[3] == 1.0
               for r in dst_rows)
    # new writes on the restored table derive the stored cell column
    d = engine.table("vcb2")
    d.upsert(emb.where(F.col("vec_id") == 30).select(
        F.lit(888000).cast("bigint").alias("vec_id"), "embedding",
        F.lit(0).alias("label")))
    d = engine.table("vcb2")
    cells = d.scan_cells("embedding", list(range(4)))
    assert cells.where(F.col("vec_id") == 888000).count() == 1


def test_copy_table_carries_props_and_model(engine, spark):
    """`kudu table copy` fidelity: table options and the frozen
    vector-cell model come along, so the copy's writes derive stored
    cells and ann_topk serves without retraining."""
    from kudu_spark.queries import load
    from kudu_spark.sources import copy_table

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    t = engine.create_table(
        "vcc", [("vec_id", "bigint", False),
                ("embedding", "array<float>", True),
                ("label", "int", True)], pk=["vec_id"])
    t.insert(emb)
    t = engine.table("vcc")
    t.train_vector_cells("embedding", n_cells=4, n_iters=2)
    t = engine.table("vcc")
    t.compact(full=True)
    t = engine.table("vcc")

    dst = copy_table(engine, "vcc", "vcc2")
    assert dst.state().props.get("vector_cell_cols") == "embedding"
    assert vector.artifact(dst, "embedding") is not None
    src_rows = sorted(tuple(r) for r in
                      t.ann_topk("embedding", [10, 20], k=5).collect())
    dst_rows = sorted(tuple(r) for r in
                      dst.ann_topk("embedding", [10, 20], k=5).collect())
    assert dst_rows == src_rows


def test_restore_applies_later_window_props(engine, spark, tmp_path):
    """Props set AFTER the full backup (here: vector_cell_cols from a
    post-full train_vector_cells) are applied from the incremental
    window that carries them — previously restore read only the full
    window's props, so the artifact restored but the property (and
    with it cell derivation + ann_topk) was silently lost."""
    from kudu_spark.queries import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    t = engine.create_table(
        "vlp", [("vec_id", "bigint", False),
                ("embedding", "array<float>", True),
                ("label", "int", True)], pk=["vec_id"])
    t.insert(emb)
    t = engine.table("vlp")
    broot = str(tmp_path / "bk2")
    backup(t, broot)                      # full: NO cell model yet
    t.train_vector_cells("embedding", n_cells=4, n_iters=2)
    t = engine.table("vlp")
    t.compact(full=True)
    t = engine.table("vlp")
    backup(t, broot, incremental=True)    # carries the prop + artifact

    dst = restore(engine, broot, "vlp", new_name="vlp2")
    assert dst.state().props.get("vector_cell_cols") == "embedding"
    assert vector.artifact(dst, "embedding") is not None
    src_rows = sorted(tuple(r) for r in
                      engine.table("vlp").ann_topk(
                          "embedding", [10, 20], k=5).collect())
    dst_rows = sorted(tuple(r) for r in
                      engine.table("vlp2").ann_topk(
                          "embedding", [10, 20], k=5).collect())
    assert dst_rows == src_rows

"""Mutation-semantics tests: the row_operations.proto:34-63 outcome
matrix (INSERT/UPSERT/UPDATE/DELETE ± IGNORE), immutable columns,
merge-on-read correctness, diff scans, auto-increment PK."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kudu_spark.engine import Engine
from kudu_spark.errors import (
    DuplicateKeyError,
    ImmutableColumnError,
    RowNotFoundError,
)
from kudu_spark.writer import Session

SIMPLE = [("key", "int", False), ("int_val", "int", False), ("string_val", "string", True)]
SCHEMA = [("k", "bigint", False), ("v", "double", True), ("s", "string", True)]


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


def rows(spark, pairs):
    return spark.createDataFrame(
        [(k, v, f"s{k}") for k, v in pairs], "key int, int_val int, string_val string"
    )


@pytest.fixture()
def t(engine, spark):
    t = engine.create_table(
        "m", SIMPLE, pk=["key"], hash_partitions=[{"columns": ["key"], "buckets": 2}]
    )
    t.insert(rows(spark, [(k, k * 10) for k in range(10)]))
    return t


def snap(t):
    return {r.key: (r.int_val, r.string_val) for r in t.scan().collect()}


def test_upsert_insert_and_replace(t, spark):
    t.upsert(rows(spark, [(5, 555), (20, 200)]))
    s = snap(t)
    assert s[5] == (555, "s5") and s[20] == (200, "s20")
    assert len(s) == 11


def test_upsert_batch_last_wins_with_row_idx(t, spark):
    df = spark.createDataFrame(
        [(30, 1, "a", 1), (30, 2, "b", 2)],
        "key int, int_val int, string_val string, __row_idx long",
    )
    t.upsert(df)
    assert snap(t)[30] == (2, "b")


def test_update_semantics(t, spark):
    t.update(spark.createDataFrame([(3, 999)], "key int, int_val int"))
    s = snap(t)
    assert s[3] == (999, "s3")  # untouched column keeps its value
    with pytest.raises(RowNotFoundError):
        t.update(spark.createDataFrame([(100, 1)], "key int, int_val int"))
    v = t.version
    t.update_ignore(spark.createDataFrame([(100, 1), (4, 444)], "key int, int_val int"))
    s = snap(t)
    assert s[4] == (444, "s4") and 100 not in s
    assert t.version == v + 1


def test_delete_semantics(t, spark):
    t.delete(spark.createDataFrame([(2,), (3,)], "key int"))
    s = snap(t)
    assert 2 not in s and 3 not in s and len(s) == 8
    with pytest.raises(RowNotFoundError):
        t.delete(spark.createDataFrame([(2,)], "key int"))
    t.delete_ignore(spark.createDataFrame([(2,), (4,)], "key int"))
    assert len(snap(t)) == 7
    # re-insert a deleted key: INSERT must succeed (key is gone)
    t.insert(rows(spark, [(2, 22)]))
    assert snap(t)[2] == (22, "s2")


def test_immutable_columns(engine, spark):
    t = engine.create_table("imm", SIMPLE, pk=["key"], immutable_cols=["string_val"])
    t.insert(rows(spark, [(1, 10)]))
    with pytest.raises(ImmutableColumnError):
        t.update(spark.createDataFrame([(1, "x")], "key int, string_val string"))
    with pytest.raises(ImmutableColumnError):
        t.upsert(spark.createDataFrame([(1, 11, "x")], "key int, int_val int, string_val string"))
    # UPSERT_IGNORE: keeps old immutable value, updates the rest
    t.upsert_ignore(
        spark.createDataFrame([(1, 11, "x")], "key int, int_val int, string_val string")
    )
    s = snap(t)
    assert s[1] == (11, "s1")
    # upsert of a NEW row may set immutable columns freely
    t.upsert(spark.createDataFrame([(2, 20, "fresh")], "key int, int_val int, string_val string"))
    assert snap(t)[2] == (20, "fresh")


@pytest.mark.parametrize("via", ["table", "session"])
def test_upsert_leaving_an_immutable_column_unset_keeps_it(engine, spark, via):
    """An UPSERT that leaves an immutable column unset keeps an existing
    row's cell (it sets nothing to change) and gives a new row the
    column's default; the Session run takes the same Spark write."""
    t = engine.create_table("imm_unset", SIMPLE, pk=["key"], immutable_cols=["string_val"],
                            defaults={"string_val": "dflt"})
    t.insert(rows(spark, [(1, 10)]))
    if via == "table":
        t.upsert(spark.createDataFrame([(1, 11), (2, 20)], "key int, int_val int"))
    else:
        with Session(t) as s:
            s.upsert({"key": 1, "int_val": 11})
            s.upsert({"key": 2, "int_val": 20})
    assert snap(t) == {1: (11, "s1"), 2: (20, "dflt")}


def test_snapshot_reads_span_mutations(t, spark):
    v0 = t.version
    t.upsert(rows(spark, [(5, 555)]))
    t.delete(spark.createDataFrame([(6,)], "key int"))
    assert t.scan(version=v0, filters=[("key", "=", 5)]).collect()[0].int_val == 50
    assert t.scan(version=v0).count() == 10
    assert t.scan().count() == 9


def test_diff_scan(t, spark):
    v0 = t.version
    t.upsert(rows(spark, [(5, 555), (20, 200)]))  # update + insert
    t.delete(spark.createDataFrame([(6,)], "key int"))
    d = {r.key: r for r in t.diff_scan(v0).collect()}
    assert set(d) == {5, 20, 6}
    assert d[5]._is_deleted is False and d[5].int_val == 555
    assert d[20]._is_deleted is False and d[20].int_val == 200
    assert d[6]._is_deleted is True
    # ghost: inserted then deleted inside the window → not emitted
    v1 = t.version
    t.insert(rows(spark, [(50, 500)]))
    t.delete(spark.createDataFrame([(50,)], "key int"))
    assert t.diff_scan(v1).count() == 0


def test_diff_scan_update_then_delete(t, spark):
    v0 = t.version
    t.update(spark.createDataFrame([(7, 777)], "key int, int_val int"))
    t.delete(spark.createDataFrame([(7,)], "key int"))
    d = t.diff_scan(v0).collect()
    assert len(d) == 1 and d[0].key == 7 and d[0]._is_deleted is True


def test_auto_increment_non_unique_pk(engine, spark):
    t = engine.create_table("auto", SIMPLE, pk=["key"], non_unique_pk=True)
    df = rows(spark, [(1, 10), (1, 11), (2, 20)])
    t.insert(df)
    t.insert(rows(spark, [(1, 12)]))
    out = t.scan().collect()
    assert len(out) == 4  # duplicate logical keys allowed
    ids = [r.auto_incrementing_id for r in out]
    assert len(set(ids)) == 4  # hidden column makes rows unique
    assert [c for c in t.scan().columns] == [
        "key", "auto_incrementing_id", "int_val", "string_val"
    ]


def test_auto_increment_write_op_rules(engine, spark):
    """row_operations.cc:505-551 parity: INSERT must NOT set the
    auto-incrementing column (it is server-assigned), UPSERT MUST set
    it (a PK cell can never be unset) and the value must be positive;
    a valid targeted UPSERT updates exactly the addressed duplicate."""
    from kudu_spark.errors import SchemaError

    t = engine.create_table("auto_rules", SIMPLE, pk=["key"], non_unique_pk=True)
    t.insert(rows(spark, [(1, 10), (1, 11)]))
    full = "key int, auto_incrementing_id bigint, int_val int, string_val string"
    with pytest.raises(SchemaError, match="should not be set for INSERT"):
        t.insert(spark.createDataFrame([(2, 99, 20, "z")], full))
    with pytest.raises(SchemaError, match="no value provided for required column"):
        t.upsert(rows(spark, [(1, 100)]))
    with pytest.raises(SchemaError, match="greater than zero"):
        t.upsert(spark.createDataFrame([(1, 0, 1, "u")], full))
    ids = sorted(r.auto_incrementing_id for r in t.scan().collect())
    t.upsert(spark.createDataFrame([(1, ids[0], 500, "tgt")], full))
    got = sorted((r.key, r.auto_incrementing_id, r.int_val) for r in t.scan().collect())
    assert got == [(1, ids[0], 500), (1, ids[1], 11)]


def test_null_not_allowed_for_non_nullable_columns(engine, spark):
    """Every write path rejects NULL into a non-nullable column, as
    the reference does with InvalidArgument (row_operations.cc:559
    insert/upsert, :706 update); nullable columns still take NULLs."""
    from kudu_spark.errors import SchemaError

    t = engine.create_table("nn_cols", SIMPLE, pk=["key"])
    t.insert(rows(spark, [(1, 10)]))
    ddl = "key int, int_val int, string_val string"
    with pytest.raises(SchemaError, match="non-nullable"):
        t.insert(spark.createDataFrame([(2, None, "y")], ddl))
    with pytest.raises(SchemaError, match="non-nullable"):
        t.upsert(spark.createDataFrame([(1, None, "z")], ddl))
    with pytest.raises(SchemaError, match="non-nullable"):
        t.update(spark.createDataFrame([(1, None)], "key int, int_val int"))
    # auto-inc tables validate too (they skip the dup checks, not these)
    ta = engine.create_table("nn_auto", SIMPLE, pk=["key"], non_unique_pk=True)
    with pytest.raises(SchemaError, match="NULL primary key"):
        ta.insert(spark.createDataFrame([(None, 1, "a")], ddl))
    with pytest.raises(SchemaError, match="non-nullable"):
        ta.insert(spark.createDataFrame([(1, None, "a")], ddl))
    # nullable columns still accept NULL; valid ops unaffected
    t.upsert(spark.createDataFrame([(3, 30, None)], ddl))
    t.update(spark.createDataFrame([(1, 111)], "key int, int_val int"))
    assert {r.key: (r.int_val, r.string_val) for r in t.scan().collect()} == {
        1: (111, "s1"), 3: (30, None),
    }


def test_upsert_rejects_null_pk(engine, spark):
    """PK columns are non-nullable (common.proto); an unchecked NULL
    published by UPSERT would be unaddressable by any probe or merge
    plan. INSERT already rejected this; UPSERT must too."""
    from kudu_spark.errors import SchemaError

    t = engine.create_table("null_pk_up", SIMPLE, pk=["key"])
    t.insert(rows(spark, [(1, 10)]))
    with pytest.raises(SchemaError, match="NULL primary key"):
        t.upsert(spark.createDataFrame(
            [(None, 5, "bad")], "key int, int_val int, string_val string"
        ))
    assert [r.key for r in t.scan().collect()] == [1]
    # a RANGE-partitioned table must raise the same error CLASS: a
    # NULL key also fails range routing, and the staging check fires
    # before the observed-metrics validation — it must classify the
    # NULL as the schema violation it is, not "no range partition"
    tr = engine.create_table(
        "null_pk_rng", SIMPLE, pk=["key"],
        range_partition={"column": "key", "splits": [8]},
    )
    tr.insert(rows(spark, [(1, 10)]))
    with pytest.raises(SchemaError, match="NULL primary key"):
        tr.upsert(spark.createDataFrame(
            [(None, 5, "bad"), (2, 6, "ok")],
            "key int, int_val int, string_val string"
        ))
    assert [r.key for r in tr.scan().collect()] == [1]


def test_auto_increment_wide_batch_no_stride_overflow(engine, spark):
    """A batch with more input partitions than AUTO_INC_STRIDE >> 33
    (128) must not overflow the commit's id reservation: ids stay
    inside [base, base + STRIDE) and the NEXT commit's ids never
    collide with them (monotonically_increasing_id allocates
    partition << 33, so 150 raw partitions would reach past 1 << 40)."""
    from pyspark.sql import functions as F

    from kudu_spark.table import AUTO_INC_STRIDE

    t = engine.create_table("auto_wide", SIMPLE, pk=["key"], non_unique_pk=True)
    wide = spark.range(300).repartition(150).select(
        F.col("id").cast("int").alias("key"),
        F.col("id").cast("int").alias("int_val"),
        F.lit("w").alias("string_val"),
    )
    t.insert(wide)
    ids1 = [r.auto_incrementing_id for r in t.scan().collect()]
    assert len(set(ids1)) == 300
    assert max(ids1) - min(ids1) < AUTO_INC_STRIDE  # inside one reservation
    t.insert(rows(spark, [(999, 1)]))
    out = t.scan().collect()
    ids = [r.auto_incrementing_id for r in out]
    assert len(ids) == 301 and len(set(ids)) == 301  # no cross-commit collision


def test_mutations_on_range_partitions(engine, spark):
    t = engine.create_table(
        "rm",
        SIMPLE,
        pk=["key"],
        hash_partitions=[{"columns": ["key"], "buckets": 2}],
        range_partition={"column": "key", "ranges": [[0, 100], [100, 200]]},
    )
    t.insert(rows(spark, [(k, k) for k in (1, 50, 150)]))
    t.upsert(rows(spark, [(50, 5000), (199, 1990)]))
    t.delete(spark.createDataFrame([(1,)], "key int"))
    s = snap(t)
    assert s == {50: (5000, "s50"), 150: (150, "s150"), 199: (1990, "s199")}


def test_diff_scan_across_compaction(engine, spark):
    """Compaction rewrites files without changing content — diff scans
    spanning a compaction must still return exactly the logical delta
    (and stay partition-restricted rather than falling back to a full
    diff)."""
    t = engine.create_table(
        "dc", SIMPLE, pk=["key"], hash_partitions=[{"columns": ["key"], "buckets": 4}]
    )
    t.insert(rows(spark, [(k, k * 10) for k in range(40)]))
    v0 = t.version
    t.upsert(rows(spark, [(1, 15), (2, 25)]))
    t.delete(spark.createDataFrame([(3,)], "key int"))
    t.compact()
    touched = t._touched_partitions(v0, t.version)
    assert touched is not None and len(touched) <= 3  # restricted, not full
    d = {r.key: r for r in t.diff_scan(v0).collect()}
    assert set(d) == {1, 2, 3}
    assert d[3]._is_deleted and not d[1]._is_deleted
    assert d[1].int_val == 15



def test_write_validation_fallback_when_observation_unusable(engine, spark, monkeypatch):
    """The defensive path behind the observed-metrics validation: when
    the observation comes back unusable (completed by a failed
    execution / pruned from an empty plan), upsert and update_ignore
    re-validate with an explicit job — same rejections, same accepts."""
    import kudu_spark.table as tbl
    from kudu_spark.errors import SchemaError

    monkeypatch.setattr(tbl, "observed_metrics", lambda obs, timeout_s=10.0: None)
    t = engine.create_table("obs_fb", SIMPLE, pk=["key"])
    t.insert(rows(spark, [(1, 10)]))
    ddl = "key int, int_val int, string_val string"
    with pytest.raises(SchemaError, match="NULL primary key"):
        t.upsert(spark.createDataFrame([(None, 5, "bad")], ddl))
    with pytest.raises(SchemaError, match="non-nullable"):
        t.upsert(spark.createDataFrame([(2, None, "bad")], ddl))
    t.upsert(spark.createDataFrame([(2, 20, "ok")], ddl))
    with pytest.raises(SchemaError):
        t.update_ignore(spark.createDataFrame(
            [(2, None)], "key int, int_val int"))
    t.update_ignore(spark.createDataFrame([(2, 22)], "key int, int_val int"))
    got = {r.key: r.int_val for r in t.scan().collect()}
    assert got == {1: 10, 2: 22}


def test_insert_fallback_validates_written_rows(engine, spark, monkeypatch, tmp_path):
    """When the observation is unusable, insert validates the rows it
    actually staged, not a re-execution of the caller's batch plan: a
    nondeterministic batch that wrote a NULL key is rejected even though
    recomputing it would yield none, and its staged files are removed."""
    import kudu_spark.table as tbl
    from kudu_spark.errors import SchemaError

    monkeypatch.setattr(tbl, "observed_metrics", lambda obs, timeout_s=10.0: None)
    t = engine.create_table("obs_ins", SIMPLE, pk=["key"])
    t.insert(rows(spark, [(1, 10)]))

    def flaky_batch(marker):
        def null_on_first_eval(k):
            # NULL exactly once per marker, across every Python worker
            try:
                os.close(os.open(marker, os.O_CREAT | os.O_EXCL))
            except FileExistsError:
                return k
            return None

        key = F.udf(null_on_first_eval, "int").asNondeterministic()
        return spark.range(2, 6).select(
            key(F.col("id").cast("int")).alias("key"),
            F.col("id").cast("int").alias("int_val"),
            F.lit("n").alias("string_val"),
        )

    data_dir = os.path.join(t.root, "data")
    before = set(os.listdir(data_dir))
    for i, write in enumerate((t.insert_ignore, t.insert)):
        marker = str(tmp_path / f"first_eval_{i}")
        with pytest.raises(SchemaError, match="NULL primary key"):
            write(flaky_batch(marker))
        assert os.path.exists(marker)
        assert set(os.listdir(data_dir)) == before
    assert [r.key for r in t.scan().collect()] == [1]


def test_delete_key_frame_cache_reuse_and_eviction(engine, spark):
    """The merged-dirty frame of a snapshot is persisted on its SECOND
    scan (the first leaves only a seen-once placeholder in the same
    per-root LRU) and then reused across scans and handles — a
    stateless library's version of the resident delta state a Kudu
    tserver amortizes. A commit evicts and unpersists the table's
    entries; results stay identical either way."""
    import kudu_spark.table as tbl

    t = engine.create_table(
        "kfc", SIMPLE, pk=["key"],
        hash_partitions=[{"columns": ["key"], "buckets": 2}],
    )
    t.insert(rows(spark, [(k, k * 10) for k in range(200)]))
    # disable inline folds so the deltas (and the cache path) survive
    engine.alter_table("kfc").set_property("auto_compact", "false").apply()
    t = engine.table("kfc")
    t.upsert(rows(spark, [(k, k * 10 + 1) for k in range(0, 200, 10)]))
    t.delete(spark.createDataFrame([(k,) for k in range(0, 200, 50)], "key int"))
    want = {k: (k * 10 + 1 if k % 10 == 0 else k * 10)
            for k in range(200) if k % 50 != 0}

    root = tbl._canonical_root(t.root)
    tbl._KEY_FRAMES.pop(root, None)
    got1 = {r.key: r.int_val for r in t.scan().collect()}
    # seen once: a placeholder, nothing persisted
    assert list(tbl._KEY_FRAMES[root].values()) == [None]
    # a FRESH handle (Engine.table returns new objects) shares the
    # process-wide entry: the second encounter persists the frame
    got2 = {r.key: r.int_val for r in engine.table("kfc").scan().collect()}
    ((ck, frame),) = tbl._KEY_FRAMES[root].items()
    assert frame is not None and frame.is_cached
    # later scans reuse the same DataFrame object, no rebuild
    got3 = {r.key: r.int_val for r in engine.table("kfc").scan().collect()}
    assert tbl._KEY_FRAMES[root][ck] is frame
    assert got1 == got2 == got3 == want
    # any commit invalidates: the old snapshot's frame is released
    t.insert(rows(spark, [(1000, 1)]))
    assert ck not in (tbl._KEY_FRAMES.get(root) or {})
    assert not frame.is_cached
    got4 = {r.key: r.int_val for r in engine.table("kfc").scan().collect()}
    want[1000] = 1
    assert got4 == want


def test_key_frame_root_lru_eviction(engine, spark, monkeypatch):
    """The process-wide frame cache is LRU-bounded across table ROOTS
    too: a long-lived process (or test session) touching many tables
    must not pin every root's persisted frames forever. Evicted roots
    just recompute — results identical."""
    import kudu_spark.table as tbl

    monkeypatch.setattr(tbl, "KEY_FRAME_ROOTS_MAX", 2)
    tables = []
    for i in range(3):
        name = f"lru{i}"
        t = engine.create_table(name, SIMPLE, pk=["key"])
        engine.alter_table(name).set_property("auto_compact", "false").apply()
        t = engine.table(name)
        t.insert(rows(spark, [(k, k) for k in range(50)]))
        t.upsert(rows(spark, [(k, k + 1) for k in range(0, 50, 5)]))
        assert t.scan().count() == 50  # populates this root's frames
        tables.append(t)
    assert len(tbl._KEY_FRAMES) <= 2
    root0 = tbl._canonical_root(tables[0].root)
    root2 = tbl._canonical_root(tables[2].root)
    assert root0 not in tbl._KEY_FRAMES   # oldest root evicted
    assert root2 in tbl._KEY_FRAMES      # newest retained
    # the evicted root's table still answers correctly (recompute)
    got = {r.key: r.int_val for r in tables[0].scan().collect()}
    assert got == {k: (k + 1 if k % 5 == 0 else k) for k in range(50)}


def test_write_proportional_budget_drains_inline(engine, spark):
    """A large delta commit folds its own backlog inline (budget scales
    with the commit's delta bytes) instead of leaving dozens of
    fixed-budget sweeps behind."""
    t = engine.create_table(
        "wp", SCHEMA, pk=["k"], hash_partitions=[{"columns": ["k"], "buckets": 4}]
    )
    # tiny fixed budget that could never cover the table; the
    # write-proportional factor must override it
    engine.alter_table("wp").set_property("auto_compact_budget_bytes", "1") \
        .set_property("auto_compact_min_delta_bytes", "0").apply()
    t = engine.table("wp")
    t.insert(spark.range(30_000).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v"), F.lit("x").alias("s")))
    t.upsert(spark.range(0, 30_000, 2).select(
        F.col("id").alias("k"), F.lit(2.0).alias("v"), F.lit("y").alias("s")))
    st = t.state()
    assert all(f.kind == "base" for f in st.files), "inline fold did not drain"
    assert t.scan().where(F.col("s") == "y").count() == 15_000

"""Storage-kernel tests: create/insert/scan, partition pruning,
time travel, and the FIXTURES.md §A `simple` schema."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kudu_spark.engine import Engine
from kudu_spark.errors import (
    DuplicateKeyError,
    KuduSparkError,
    RowNotFoundError,
    SchemaError,
    TableExistsError,
    TableNotFoundError,
)

SIMPLE = [("key", "int", False), ("int_val", "int", False), ("string_val", "string", True)]


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "warehouse"))


def simple_rows(spark, keys, base=0):
    return spark.createDataFrame(
        [(k, k * 10 + base, f"s{k}") for k in keys], "key int, int_val int, string_val string"
    )


def test_create_insert_scan(engine, spark):
    t = engine.create_table(
        "simple", SIMPLE, pk=["key"], hash_partitions=[{"columns": ["key"], "buckets": 4}]
    )
    t.insert(simple_rows(spark, range(100)))
    df = t.scan()
    assert df.count() == 100
    assert df.columns == ["key", "int_val", "string_val"]
    got = {r.key: (r.int_val, r.string_val) for r in df.collect()}
    assert got[7] == (70, "s7")


def test_create_validation(engine):
    with pytest.raises(SchemaError):
        engine.create_table("bad", SIMPLE, pk=["nope"])
    engine.create_table("t1", SIMPLE, pk=["key"])
    with pytest.raises(TableExistsError):
        engine.create_table("t1", SIMPLE, pk=["key"])
    with pytest.raises(TableNotFoundError):
        engine.table("missing")
    with pytest.raises(SchemaError):
        engine.create_table(
            "badhash", SIMPLE, pk=["key"],
            hash_partitions=[{"columns": ["int_val"], "buckets": 2}],
        )


def test_insert_duplicate_detection(engine, spark):
    t = engine.create_table("dup", SIMPLE, pk=["key"])
    t.insert(simple_rows(spark, range(10)))
    with pytest.raises(DuplicateKeyError):
        t.insert(simple_rows(spark, [5, 100]))
    # table unchanged after failed insert
    assert t.scan().count() == 10
    t.insert_ignore(simple_rows(spark, [5, 100], base=999))
    assert t.scan().count() == 11
    # original row 5 untouched (INSERT_IGNORE skips, not overwrites)
    assert t.scan(filters=[("key", "=", 5)]).collect()[0].int_val == 50
    # in-batch duplicates
    with pytest.raises(DuplicateKeyError):
        t.insert(simple_rows(spark, [200, 200]))


def test_hash_partition_pruning(engine, spark):
    t = engine.create_table(
        "pruned", SIMPLE, pk=["key"], hash_partitions=[{"columns": ["key"], "buckets": 8}]
    )
    t.insert(simple_rows(spark, range(200)))
    st = t.state()
    assert len({tuple(f.partition["hash"]) for f in st.files}) == 8
    pruned = t._prune(st, [("key", "=", 17)])
    assert 0 < len(pruned) < len(st.files)
    rows = t.scan(filters=[("key", "=", 17)]).collect()
    assert len(rows) == 1 and rows[0].int_val == 170


def test_range_partition_pruning_and_bounds(engine, spark):
    t = engine.create_table(
        "ranged",
        SIMPLE,
        pk=["key"],
        range_partition={"column": "key", "ranges": [[0, 50], [50, 100]]},
    )
    t.insert(simple_rows(spark, range(100)))
    st = t.state()
    assert {f.partition["range"] for f in st.files} == {0, 1}
    pruned = t._prune(st, [("key", "=", 75)])
    assert {f.partition["range"] for f in pruned} == {1}
    # non-covering: a row outside every range is a write error
    from kudu_spark.errors import KuduSparkError

    with pytest.raises(KuduSparkError):
        t.insert(simple_rows(spark, [150]))


def test_pk_minmax_file_pruning(engine, spark):
    t = engine.create_table("minmax", SIMPLE, pk=["key"])
    t.insert(simple_rows(spark, range(0, 50)))
    t.insert(simple_rows(spark, range(50, 100)))
    st = t.state()
    assert len(st.files) >= 2
    pruned = t._prune(st, [("key", "=", 75)])
    assert len(pruned) < len(st.files)


def test_time_travel(engine, spark):
    t = engine.create_table("tt", SIMPLE, pk=["key"])
    v1 = t.insert(simple_rows(spark, range(10)))
    v2 = t.insert(simple_rows(spark, range(10, 20)))
    assert t.scan(version=v1).count() == 10
    assert t.scan(version=v2).count() == 20
    assert t.scan().count() == 20


def test_ordered_scan_and_limit(engine, spark):
    t = engine.create_table(
        "ord", SIMPLE, pk=["key"], hash_partitions=[{"columns": ["key"], "buckets": 4}]
    )
    t.insert(simple_rows(spark, [5, 3, 9, 1, 7]))
    keys = [r.key for r in t.scan(ordered=True).collect()]
    assert keys == [1, 3, 5, 7, 9]
    assert t.scan(ordered=True, limit=2).count() == 2


def test_scan_tokens(engine, spark):
    t = engine.create_table(
        "tok", SIMPLE, pk=["key"], hash_partitions=[{"columns": ["key"], "buckets": 4}]
    )
    t.insert(simple_rows(spark, range(40)))
    tokens = t.scan_tokens()
    assert len(tokens) == 4
    total = sum(t.token_to_df(tok).count() for tok in tokens)
    assert total == 40
    # locality hints (KuduRDD.scala:57-110 replica locations): on a
    # local FS every file is host-local
    located = t.scan_tokens(with_locations=True)
    assert all("locations" in tok and tok["locations"] for tok in located)


def test_statistics_and_catalog(engine, spark):
    t = engine.create_table("stats", SIMPLE, pk=["key"])
    t.insert(simple_rows(spark, range(25)))
    s = t.statistics()
    assert s["live_row_count"] == 25 and s["on_disk_size"] > 0
    assert engine.list_tables() == ["stats"]
    engine.soft_delete_table("stats")
    assert engine.list_tables() == []
    assert engine.list_tables(include_soft_deleted=True) == ["stats"]
    engine.recall_table("stats")
    assert engine.list_tables() == ["stats"]
    assert engine.table("stats").scan().count() == 25


def test_soft_delete_reservation_window(engine, spark):
    """soft_delete_table(reserve_seconds) (client.pyx:527-583): recall
    honored inside the window, refused after expiry, and
    purge_soft_deleted drops only expired tombstones."""
    import pytest as _pytest

    from kudu_spark.errors import KuduSparkError

    a = engine.create_table("sd_a", SIMPLE, pk=["key"])
    a.insert(simple_rows(spark, range(5)))
    engine.create_table("sd_b", SIMPLE, pk=["key"])
    # inside the window: recall works
    engine.soft_delete_table("sd_a", reserve_seconds=3600)
    engine.recall_table("sd_a")
    assert engine.table("sd_a").scan().count() == 5
    # expired window: recall refused, purge drops it
    engine.soft_delete_table("sd_a", reserve_seconds=0)
    import time

    time.sleep(0.01)
    with _pytest.raises(KuduSparkError, match="expired"):
        engine.recall_table("sd_a")
    # live tombstone within window is NOT purged
    engine.soft_delete_table("sd_b", reserve_seconds=3600)
    assert engine.purge_soft_deleted() == ["sd_a"]
    assert engine.list_tables(include_soft_deleted=True) == ["sd_b"]
    engine.recall_table("sd_b")
    assert engine.list_tables() == ["sd_b"]


def test_locate_row(engine, spark):
    t = engine.create_table(
        "loc",
        SIMPLE,
        pk=["key"],
        hash_partitions=[{"columns": ["key"], "buckets": 4}],
        range_partition={"column": "key", "ranges": [[0, 100], [100, 200]]},
    )
    t.insert(simple_rows(spark, [5, 150]))
    p = engine.locate_row("loc", {"key": 150})
    assert p["range"] == 1 and 0 <= p["hash"][0] < 4


def test_scan_include_deleted(engine, spark):
    t = engine.create_table("ghosts", SIMPLE, pk=["key"])
    t.insert(simple_rows(spark, range(10)))
    t.delete(spark.createDataFrame([(3,), (7,)], "key int"))
    live = t.scan()
    assert "_is_deleted" not in live.columns and live.count() == 8
    ghosts = t.scan(include_deleted=True)
    got = {r.key: r._is_deleted for r in ghosts.collect()}
    assert len(got) == 10
    assert got[3] is True and got[7] is True and got[0] is False
    # predicate composes with the virtual column scan
    one = t.scan(filters=[("key", "=", 3)], include_deleted=True).collect()
    assert len(one) == 1 and one[0]._is_deleted


def test_scan_tokens_split_size(engine, spark):
    t = engine.create_table(
        "tok", SIMPLE, pk=["key"], hash_partitions=[{"columns": ["key"], "buckets": 2}]
    )
    for i in range(4):  # 4 commits -> 4 files per bucket
        t.insert(simple_rows(spark, range(i * 100, (i + 1) * 100)))
    whole = t.scan_tokens()
    assert len(whole) == 2
    split = t.scan_tokens(split_size_bytes=1)  # force one file per token
    assert len(split) == sum(len(tk["files"]) for tk in whole)
    # token union still reads the exact table content
    import functools

    dfs = [t.token_to_df(tk) for tk in split]
    union = functools.reduce(lambda a, b: a.unionByName(b), dfs)
    assert union.count() == 400


def test_concurrent_commit_retry(engine, spark):
    """Optimistic concurrency (append_commit O_EXCL, ≈ Kudu leader
    serialization): a writer holding a stale state retries its commit
    against the advanced log and both writes land."""
    t = engine.create_table("race", SIMPLE, pk=["key"])
    t.insert(simple_rows(spark, range(10)))
    stale = t.state()  # writer A snapshots...
    t.insert(simple_rows(spark, range(100, 110)))  # ...writer B commits first
    from kudu_spark.table import seq_for

    entries = t._write_files(
        t._validate_batch(stale, simple_rows(spark, range(200, 210))),
        stale, seq_for(stale.version + 1), "base",
    )
    v = t._commit(stale, "insert", entries)  # retries past the conflict
    assert v == stale.version + 2
    assert t.scan().count() == 30


def test_concurrent_commit_exhaustion(engine, spark, monkeypatch):
    from kudu_spark import meta as M
    from kudu_spark.errors import ConcurrentCommitError

    t = engine.create_table("race2", SIMPLE, pk=["key"])
    t.insert(simple_rows(spark, range(5)))
    stale = t.state()
    entries = []

    def always_conflict(root, version, payload):
        raise ConcurrentCommitError("simulated")

    import kudu_spark.table as TBL
    monkeypatch.setattr(TBL, "append_commit", always_conflict)
    with pytest.raises(ConcurrentCommitError):
        t._commit(stale, "insert", entries, retries=3)


def test_count_fast_path(engine, spark):
    t = engine.create_table("cnt", SIMPLE, pk=["key"],
                            hash_partitions=[{"columns": ["key"], "buckets": 4}])
    t.insert(simple_rows(spark, range(500)))
    assert t.count() == 500  # pure-manifest path (no delta files)
    t.delete(spark.createDataFrame([(1,), (2,)], "key int"))
    t.upsert(simple_rows(spark, [3, 501], base=7))
    assert t.count() == 499  # mixed: manifest for clean buckets + merge for dirty
    assert t.count() == t.scan().count()
    t.compact()
    assert t.count() == 499


def test_engine_sql_over_tables(engine, spark):
    """Engine.sql: full Spark SQL (joins/aggs) over engine tables'
    merge-on-read views — the Impala-on-Kudu division of labor."""
    a = engine.create_table("facts", SIMPLE, pk=["key"])
    a.insert(simple_rows(spark, range(20)))
    a.delete(spark.createDataFrame([(5,)], "key int"))
    dims = engine.create_table(
        "dims", [("int_val", "int", False), ("label", "string", True)], pk=["int_val"]
    )
    dims.insert(spark.createDataFrame(
        [(k * 10, f"lab{k % 3}") for k in range(20)], "int_val int, label string"
    ))
    out = engine.sql("""
        SELECT label, count(*) AS n, sum(facts.key) AS key_sum
        FROM facts JOIN dims USING (int_val)
        GROUP BY label ORDER BY label
    """).collect()
    assert sum(r.n for r in out) == 19  # deleted row invisible to SQL
    assert {r.label for r in out} == {"lab0", "lab1", "lab2"}
    # AS-OF: version pinned per table
    v_before = a.version - 1  # before the delete
    n = engine.sql("SELECT count(*) AS n FROM facts",
                   version_of={"facts": v_before}).collect()[0].n
    assert n == 20


def test_concurrent_alter_rebuilds_not_blind_retry(engine, spark):
    """Two racing alters must BOTH survive: the loser rebuilds its
    schema from fresh state instead of republishing the stale one (a
    blind version-bump retry would silently undo the winner's column —
    the lost-update Kudu prevents with the master's catalog lock)."""
    t = engine.create_table("ca", SIMPLE, pk=["key"])
    t.insert(simple_rows(spark, range(3)))

    alt = engine.alter_table("ca")
    alt.add_column("mine", "int", default=1)
    orig_commit = alt.table._commit
    fired = {"n": 0}

    def racing_commit(*a, **kw):
        if fired["n"] == 0:
            fired["n"] += 1
            # another client's alter lands in the window between this
            # alter's state read and its commit attempt
            engine.alter_table("ca").add_column("theirs", "int", default=2).apply()
        return orig_commit(*a, **kw)

    alt.table._commit = racing_commit
    alt.apply()
    cols = set(engine.table("ca").state().schema.names)
    assert {"mine", "theirs"} <= cols  # neither alter lost
    row = engine.table("ca").scan(filters=[("key", "=", 1)]).collect()[0]
    assert (row["mine"], row["theirs"]) == (1, 2)


def test_engine_sql_registers_only_referenced_tables(engine, spark):
    """sql() builds merge-on-read views only for tables the query
    references (word match, case-insensitive): a wide warehouse must
    not pay a state replay + plan per table for a 2-table query. An
    unreferenced table's temp view is absent afterwards, and a stale
    view from an earlier call never serves an old snapshot."""
    for name in ("tref", "tother", "tthird"):
        t = engine.create_table(name, SIMPLE, pk=["key"])
        t.insert(simple_rows(spark, range(3)))
    assert engine.sql("SELECT count(*) AS n FROM TREF").collect()[0].n == 3
    assert not spark.catalog.tableExists("tother")
    assert not spark.catalog.tableExists("tthird")
    # freshness across calls: a later query sees later data, and a
    # table registered by call 1 but unreferenced in call 2 is dropped
    engine.table("tother").insert(simple_rows(spark, range(3, 10)))
    assert engine.sql("SELECT count(*) AS n FROM tother").collect()[0].n == 10
    assert not spark.catalog.tableExists("tref")


def test_scan_token_external_engine(engine, spark):
    """Scan tokens exist for EXTERNAL compute frameworks
    (docs/design-docs/scan-tokens.md) — a token's file list plus its
    filters must be consumable without Spark. DuckDB plays the foreign
    engine here."""
    import duckdb
    import os as _os

    t = engine.create_table(
        "ext", SIMPLE, pk=["key"], hash_partitions=[{"columns": ["key"], "buckets": 2}]
    )
    t.insert(simple_rows(spark, range(200)))
    tokens = t.scan_tokens(filters=[("int_val", ">=", 1000)])
    con = duckdb.connect()
    total = 0
    for tk in tokens:
        paths = [_os.path.join(t.root, p) for p in tk["files"]]
        rel = con.sql(
            "SELECT key, int_val, string_val FROM read_parquet($paths) WHERE int_val >= 1000",
            params={"paths": paths},
        )
        total += rel.df().shape[0]
    want = t.scan(filters=[("int_val", ">=", 1000)]).count()
    assert total == want == 100


def test_vacuum_ancient_history_mark(engine, spark):
    """Time travel below the vacuum horizon fails EARLY with Kudu's
    contract error (tablet history GC: "earlier than the ancient
    history mark"), not a FileNotFound at action time."""
    t = engine.create_table("ahm", SIMPLE, pk=["key"])
    t.insert(simple_rows(spark, range(20)))
    v1 = t.version
    t.upsert(simple_rows(spark, range(20), base=1))
    t.compact()
    assert t.ancient_history_mark() is None  # no vacuum yet
    t.vacuum(keep_versions=0, force=True)
    head = t.version
    assert t.ancient_history_mark() == head
    with pytest.raises(KuduSparkError, match="ancient history mark"):
        t.scan(version=v1)
    # the SQL AS-OF path surfaces the same contract error
    with pytest.raises(KuduSparkError, match="ancient history mark"):
        engine.sql(f"SELECT * FROM ahm VERSION AS OF {v1}")
    assert t.scan().count() == 20  # HEAD unaffected
    # the mark never retreats: a later default vacuum (which retains
    # everything inside the live-reader window) keeps the horizon
    t.insert(simple_rows(spark, range(100, 110)))
    assert t.vacuum() == 0
    assert t.ancient_history_mark() == head


def test_legacy_bloom_sidecar_replays_and_vacuums(engine, spark):
    """Logs written before the delta-key bloom scan plan was removed may
    point delta files at a ``.bloom`` sidecar: they still replay and scan
    exactly, fsck accepts them, and vacuum reclaims the file once
    compaction drops its last reference."""
    import os

    from kudu_spark.meta import FileEntry

    engine.create_table("lb", [("k", "bigint", False), ("v", "bigint", True)],
                        pk=["k"], hash_partitions=[{"columns": ["k"], "buckets": 2}])
    engine.alter_table("lb").set_property("auto_compact", "false").apply()
    t = engine.table("lb")
    t.insert(spark.range(100).select(F.col("id").alias("k"), F.col("id").alias("v")))
    t.upsert(spark.range(0, 100, 10).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")))
    st = t.state()
    deltas = [f for f in st.files if f.kind == "delta"]
    rel = os.path.join("data", f"{deltas[0].seq:012d}-legacy.bloom")
    with open(os.path.join(t.root, rel), "wb") as fh:
        fh.write(b"legacy")
    entries = []
    for f in deltas:
        nf = FileEntry.from_json(f.to_json())
        nf.bloom = rel
        entries.append(nf)
    t._commit(st, "legacy_bloom", entries, removes=[e.path for e in entries],
              retries=1, restamp_seq=False)
    t = engine.table("lb")
    assert {f.bloom for f in t.state().files if f.kind == "delta"} == {rel}
    assert engine.fsck("lb")["lb"]["ok"]
    got = {r.k: r.v for r in t.scan().collect()}
    assert got == {k: -1 if k % 10 == 0 else k for k in range(100)}
    t.compact()
    t.vacuum(force=True)
    assert not os.path.exists(os.path.join(t.root, rel))
    assert {r.k: r.v for r in engine.table("lb").scan().collect()} == got


def test_vacuum_keep_versions(engine, spark):
    t = engine.create_table("vac", SIMPLE, pk=["key"])
    t.insert(simple_rows(spark, range(50)))
    v1 = t.version
    t.upsert(simple_rows(spark, range(50), base=1))
    t.compact()
    v_compact = t.version
    # keep one version of history: pre-compaction state stays readable
    t.vacuum(keep_versions=1, force=True)
    assert t.scan(version=v_compact - 1).count() == 50
    assert t.scan().count() == 50
    # a DEFAULT vacuum retains files of recent manifests (the live
    # time-travel reader guard, ≈ Kudu's ancient history mark): a
    # DataFrame built against an old version BEFORE the vacuum still
    # executes AFTER it
    pre = t.scan(version=v1)
    assert t.vacuum(keep_versions=0) == 0
    assert pre.count() == 50
    # full vacuum with force: only HEAD survives
    removed = t.vacuum(keep_versions=0, force=True)
    assert removed > 0
    assert t.scan().count() == 50


def test_txn_consistent_sql_sees_neither_or_both(engine, spark):
    """A reader snapshotting mid-publish of a cross-table transaction
    must see the txn NOWHERE (or, after the marker resolves,
    everywhere) — never a torn subset. Engine.sql(txn_consistent=True)
    pins each participant below its txn commit while the durable
    marker is unresolved (≈ Kudu commit-timestamp MVCC)."""
    import json
    import os
    import uuid

    ddl = "key int, int_val int, string_val string"
    a = engine.create_table("sa", SIMPLE, pk=["key"])
    b = engine.create_table("sb", SIMPLE, pk=["key"])
    a.insert(spark.createDataFrame([(1, 1, "a")], ddl))
    b.insert(spark.createDataFrame([(1, 1, "b")], ddl))
    txn = engine.transaction()
    txn.insert("sa", spark.createDataFrame([(2, 2, "x")], ddl))
    txn.insert("sb", spark.createDataFrame([(2, 2, "y")], ddl))
    # mid-publish: marker durable, only sa's commit appended
    txn_id = uuid.uuid4().hex
    os.makedirs(os.path.join(engine.root, "_txns"), exist_ok=True)
    marker = os.path.join(engine.root, "_txns", f"{txn_id}.json")
    with open(marker, "w") as f:
        json.dump({
            "txn_id": txn_id,
            "state": "committing",
            "participants": {
                n: {"root": t.table.root,
                    "entries": [e.to_json() for _, es in t._staged for e in es]}
                for n, t in txn._parts.items()
            },
        }, f)
    txn._parts["sa"]._publish(txn_id)

    # a PLAIN sql() read is txn-consistent by default (round 6): the
    # mid-publish txn is visible NOWHERE; the explicit opt-out exposes
    # the torn prefix
    assert {r.key for r in engine.sql("select * from sa").collect()} == {1}
    assert {r.key for r in
            engine.sql("select * from sa", txn_consistent=False).collect()} == {1, 2}
    cons = engine.sql("select * from sa", txn_consistent=True)
    assert {r.key for r in cons.collect()} == {1}
    assert {r.key for r in
            engine.sql("select * from sb", txn_consistent=True).collect()} == {1}

    # marker resolves: consistent read now sees BOTH
    txn._parts["sb"]._publish(txn_id)
    os.unlink(marker)
    assert {r.key for r in
            engine.sql("select * from sa", txn_consistent=True).collect()} == {1, 2}
    assert {r.key for r in
            engine.sql("select * from sb", txn_consistent=True).collect()} == {1, 2}


def test_wide_schema_300_columns(engine, spark):
    """Kudu's default max_column_count is 300 (master.cc
    --max_column_count); the engine must handle that width through
    create/insert/scan/alter, and projection must prune the parquet
    read to the requested columns only."""
    from pyspark.sql import functions as F

    ncols = 299
    schema = [("k", "bigint", False)] + [(f"c{i}", "int", True) for i in range(ncols)]
    t = engine.create_table("wide", schema, pk=["k"])
    df = spark.range(50).select(
        F.col("id").alias("k"),
        *[(F.col("id") * i % 97).cast("int").alias(f"c{i}") for i in range(ncols)],
    )
    t.insert(df)
    got = t.scan(columns=["k", "c7", "c298"], filters=[("k", "=", 13)]).collect()
    assert len(got) == 1 and got[0]["c7"] == 13 * 7 % 97
    plan = t.scan(columns=["k", "c7"])._jdf.queryExecution().executedPlan().toString()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "c8" not in read_schema[0]
    # schema evolution at width: add column 301, old rows read default
    engine.alter_table("wide").add_column("c299", "int", default=-1).apply()
    t2 = engine.table("wide")
    assert t2.scan(filters=[("k", "=", 13)]).collect()[0]["c299"] == -1


def test_consistent_versions_pins_unpublished_at_probe_head(engine, spark):
    """Participants that have NOT yet published their txn commit must
    be pinned at their head AS OF THE PROBE — a publish racing in
    after consistent_versions() returns is then excluded, closing the
    probe-to-read torn-read window."""
    import json
    import os
    import uuid

    ddl = "key int, int_val int, string_val string"
    a = engine.create_table("pa", SIMPLE, pk=["key"])
    b = engine.create_table("pb", SIMPLE, pk=["key"])
    a.insert(spark.createDataFrame([(1, 1, "a")], ddl))
    b.insert(spark.createDataFrame([(1, 1, "b")], ddl))
    txn = engine.transaction()
    txn.insert("pa", spark.createDataFrame([(2, 2, "x")], ddl))
    txn.insert("pb", spark.createDataFrame([(2, 2, "y")], ddl))
    txn_id = uuid.uuid4().hex
    os.makedirs(os.path.join(engine.root, "_txns"), exist_ok=True)
    with open(os.path.join(engine.root, "_txns", f"{txn_id}.json"), "w") as f:
        json.dump({
            "txn_id": txn_id,
            "state": "committing",
            "participants": {
                n: {"root": t.table.root,
                    "staged_at": t.table.state().version,
                    "entries": [e.to_json() for _, es in t._staged for e in es]}
                for n, t in txn._parts.items()
            },
        }, f)
    head_a, head_b = a.state().version, b.state().version
    pins = engine.consistent_versions()
    # NEITHER side has published: both pinned at their probe-time head
    assert pins == {"pa": head_a, "pb": head_b}
    # a publish that lands after the probe is excluded by those pins
    txn._parts["pb"]._publish(txn_id)
    t_b = engine.table("pb")
    assert {r.key for r in t_b.scan(version=pins["pb"]).collect()} == {1}
    # re-probe: pb now pins just below its txn commit, pa at head still
    pins2 = engine.consistent_versions()
    assert pins2["pb"] == t_b.state().version - 1
    assert pins2["pa"] == head_a


def test_fsck_clean_and_corrupted(engine, spark, tmp_path):
    """Warehouse integrity check (≈ offline ksck + `kudu fs check`,
    tools/tool_action_fs.cc:261-308): clean tables report ok; a
    deleted manifest file, a truncated file, and lost-race debris are
    each flagged; --repair removes only the debris."""
    import os

    t = engine.create_table("f1", SIMPLE, pk=["key"])
    t.insert(simple_rows(spark, range(100)))
    t.upsert(simple_rows(spark, range(50, 60), base=1))
    rep = engine.fsck()
    assert rep["f1"]["ok"] and rep["f1"]["orphans"] == []
    assert rep["f1"]["log_gaps"] == []

    # lost-race debris: a data file no commit references
    orphan = os.path.join(t.root, "data", "000000000000-deadbeef.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    rep = engine.fsck("f1")
    assert rep["f1"]["ok"]  # orphans are non-fatal
    assert rep["f1"]["orphans"] == ["data/000000000000-deadbeef.parquet"]
    engine.fsck("f1", repair=True)
    assert not os.path.exists(orphan)
    assert engine.fsck("f1")["f1"]["orphans"] == []

    # truncate one referenced file -> size_mismatch; delete another -> missing
    st = t.state()
    f_trunc = os.path.join(t.root, st.files[0].path)
    f_gone = os.path.join(t.root, st.files[-1].path)
    with open(f_trunc, "ab") as f:
        f.write(b"x")
    os.unlink(f_gone)
    rep = engine.fsck("f1")
    assert not rep["f1"]["ok"]
    assert rep["f1"]["size_mismatch"] == [st.files[0].path]
    assert rep["f1"]["missing"] == [st.files[-1].path]


def test_fsck_keeps_txn_staged_files(engine, spark):
    """Files staged by an in-flight cross-table transaction are NOT
    orphans — recover() still needs them (the marker references them,
    not the commit log yet)."""
    import json
    import os

    engine.create_table("fa", SIMPLE, pk=["key"])
    t = engine.table("fa")
    t.insert(simple_rows(spark, range(10)))
    txn = engine.transaction()
    txn.insert("fa", simple_rows(spark, range(100, 110)))
    part = txn._parts["fa"]
    staged_paths = [e.path for _, es in part._staged for e in es]
    assert staged_paths
    # simulate the crash window: marker durable, commit not yet landed
    d = os.path.join(engine.root, "_txns")
    os.makedirs(d, exist_ok=True)
    marker = {
        "txn_id": "t-fsck", "state": "committing",
        "participants": {"fa": {
            "root": t.root, "staged_at": t.state().version,
            "entries": [e.to_json() for _, es in part._staged for e in es],
        }},
    }
    with open(os.path.join(d, "t-fsck.json"), "w") as f:
        json.dump(marker, f)
    rep = engine.fsck("fa", repair=True)
    assert rep["fa"]["orphans"] == []
    for p in staged_paths:
        assert os.path.exists(os.path.join(t.root, p))
    txn.rollback()
    os.unlink(os.path.join(d, "t-fsck.json"))


def test_fsck_flags_bad_sidecar(engine, spark):
    import os
    import shutil

    engine.create_table("f2", [("k", "bigint", False)], pk=["k"])
    engine.alter_table("f2").set_property("pk_bloom_cols", "k").apply()
    t = engine.table("f2")
    t.insert(spark.range(100).select(F.col("id").alias("k")))
    assert engine.fsck("f2")["f2"]["ok"]
    rel = t.state().files[0].bloom
    # shard-byte drift (a truncated shard) flags before total removal
    shard = next(n for n in os.listdir(os.path.join(t.root, rel))
                 if n.endswith(".i64"))
    spath = os.path.join(t.root, rel, shard)
    data = open(spath, "rb").read()
    open(spath, "wb").write(data[:-8])  # drop one key
    rep = engine.fsck("f2")
    assert not rep["f2"]["ok"] and rep["f2"]["bad_sidecars"] == [rel]
    open(spath, "wb").write(data)  # restore
    assert engine.fsck("f2")["f2"]["ok"]
    shutil.rmtree(os.path.join(t.root, rel))
    rep = engine.fsck("f2")
    assert not rep["f2"]["ok"] and rep["f2"]["bad_sidecars"] == [rel]


def test_table_owner_roundtrip(engine, spark):
    """VERDICT r9 task #4: owner parity (KuduTableCreator::set_owner,
    client.h:1396; KuduTableAlterer::SetOwner, client.h:1936) — set at
    create, changed by alter, surfaced in statistics/SHOW TABLE STATS
    and SHOW CREATE TABLE, and round-tripping through the regenerated
    DDL."""
    from kudu_spark.errors import KuduSparkError
    from kudu_spark.sql_ddl import show_create_table

    t = engine.create_table(
        "owned", [("k", "bigint", False), ("v", "string", True)],
        pk=["k"], owner="alice")
    assert t.statistics()["owner"] == "alice"
    engine.set_owner("owned", "bob")
    t = engine.table("owned")
    assert t.statistics()["owner"] == "bob"
    ddl = show_create_table(engine, "owned")
    assert "'owner' = 'bob'" in ddl
    # SHOW TABLE STATS surfaces it alongside replication_factor
    row = engine.sql("SHOW TABLE STATS owned").collect()[0]
    assert row.owner == "bob"
    # the regenerated DDL round-trips the owner property
    engine.sql(ddl.replace("CREATE TABLE owned", "CREATE TABLE owned2"))
    assert engine.table("owned2").statistics()["owner"] == "bob"
    with pytest.raises(KuduSparkError):
        engine.set_owner("owned", "   ")


def test_maintenance_daemon_drains_deferred_backlog(engine, spark):
    """VERDICT r9 stretch #8: the background maintenance daemon
    (≈ MaintenanceManager, util/maintenance_manager.h) drains a
    deferred table's delta backlog off the write path — mutations
    never fold inline, the daemon does."""
    import time

    t = engine.create_table(
        "md", [("k", "bigint", False), ("v", "string", True)], pk=["k"],
    )
    engine.alter_table("md") \
        .set_property("auto_compact_mode", "deferred") \
        .set_property("auto_compact_min_delta_bytes", "1") \
        .set_property("auto_compact_min_ratio", "0.0001").apply()
    t = engine.table("md")
    t.insert(spark.range(2000).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")))
    for i in range(3):
        t.upsert(spark.range(i * 300, i * 300 + 300).select(
            F.col("id").alias("k"), F.lit(f"u{i}").alias("v")))
    t = engine.table("md")
    assert any(f.kind == "delta" for f in t.state().files)  # deferred: backlog
    engine.start_maintenance(interval_s=0.2)
    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            if not any(f.kind == "delta" for f in engine.table("md").state().files):
                break
            time.sleep(0.5)
    finally:
        stats = engine.stop_maintenance()
    t = engine.table("md")
    assert not any(f.kind == "delta" for f in t.state().files), "backlog not drained"
    assert stats["sweeps"] >= 1 and stats["compactions"] >= 1
    # row content survived the folds
    assert t.scan().count() == 2000
    got = {r.k: r.v for r in t.scan(filters=[("k", "<", 3)]).collect()}
    assert got == {0: "u0", 1: "u0", 2: "u0"}


def test_maintenance_sweep_skips_disabled_and_locked(engine, spark):
    """The sweep never touches auto_compact=false tables and never
    queues behind a table whose maintenance mutex is held."""
    t = engine.create_table(
        "ms", [("k", "bigint", False), ("v", "string", True)], pk=["k"])
    engine.alter_table("ms").set_property("auto_compact", "false").apply()
    t = engine.table("ms")
    t.insert(spark.range(100).select(
        F.col("id").alias("k"), F.lit("x").alias("v")))
    t.upsert(spark.range(50).select(
        F.col("id").alias("k"), F.lit("y").alias("v")))
    assert engine.maintenance_sweep() == {"ms": False}
    assert any(f.kind == "delta" for f in engine.table("ms").state().files)
    # a held mutex skips (no deadlock, no queueing)
    engine.alter_table("ms").set_property("auto_compact", "true") \
        .set_property("auto_compact_mode", "deferred") \
        .set_property("auto_compact_min_delta_bytes", "1") \
        .set_property("auto_compact_min_ratio", "0.0001").apply()
    t2 = engine.table("ms")
    assert t2._maint_lock.acquire(blocking=False)
    try:
        assert engine.maintenance_sweep() == {"ms": False}
    finally:
        t2._maint_lock.release()
    assert engine.maintenance_sweep() == {"ms": True}


def test_maintenance_history_gc(engine, spark):
    """Tablet history GC rides the maintenance sweep (Kudu's
    UndoDeltaBlockGCOp under --tablet_history_max_age_sec): a table
    that SET history_max_age_sec gets vacuumed each pass — old
    versions' files deleted, ancient history mark advanced — while
    tables without the property keep full history."""
    schema = [("k", "bigint", False), ("v", "string", True)]
    rows = lambda n, s: spark.range(n).select(
        F.col("id").alias("k"), F.lit(s).alias("v"))
    gc = engine.create_table("hgc", schema, pk=["k"])
    keep = engine.create_table("hkeep", schema, pk=["k"])
    # deep history: a NON-force vacuum only touches files older than
    # the in-flight slack window, so the mark must not move until
    # history genuinely extends past it (ADVICE r11: a young table's
    # sweep used to publish a mark while deleting nothing)
    for t in (gc, keep):
        t.insert(rows(100, "a"))
        for i in range(6):
            t.upsert(rows(50, f"b{i}"))
            t.compact()
    engine.alter_table("hgc").set_property("history_max_age_sec", "0").apply()
    engine.maintenance_sweep()
    gc, keep = engine.table("hgc"), engine.table("hkeep")
    mark = gc.ancient_history_mark()
    assert mark is not None and 1 < mark < gc.version
    assert gc.scan(version=mark).count() == 100     # mark itself readable
    assert keep.ancient_history_mark() is None      # untouched
    assert gc.scan().count() == 100                 # HEAD intact
    from kudu_spark.errors import KuduSparkError
    with pytest.raises(KuduSparkError, match="ancient history mark"):
        gc.scan(version=1)
    assert keep.scan(version=2).count() == 100      # post-insert history retained


def test_young_table_history_gc_keeps_time_travel(engine, spark):
    """A maintenance history-GC pass over a YOUNG table (every file
    inside the vacuum in-flight slack) deletes nothing — and must not
    publish an ancient history mark claiming it did: time travel to
    every version keeps working (ADVICE r11)."""
    schema = [("k", "bigint", False), ("v", "string", True)]
    rows = lambda n, s: spark.range(n).select(
        F.col("id").alias("k"), F.lit(s).alias("v"))
    t = engine.create_table("yhgc", schema, pk=["k"])
    t.insert(rows(100, "a"))
    v_insert = t.version
    t.upsert(rows(50, "b"))
    t.compact()
    engine.alter_table("yhgc").set_property("history_max_age_sec", "0").apply()
    out = engine.maintenance_sweep()
    assert "__errors__" not in out
    t = engine.table("yhgc")
    assert t.ancient_history_mark() is None
    # the pre-compaction snapshot's files are still on disk (protected
    # by the in-flight slack) and must remain readable
    assert t.scan(version=v_insert).count() == 100
    assert t.scan().count() == 100


def test_fsck_repair_sheds_bad_sidecar_refs(engine, spark):
    """fsck(repair=True) on a corrupt sidecar: the references are shed
    in one re-point commit — probes decline cleanly, a follow-up fsck
    is OK, and compact(full=True) rebuilds exact coverage. Never a
    direct rebuild (it could drop an absorbed delete family and
    resurrect deleted keys)."""
    import os
    import shutil

    engine.create_table("fr", [("k", "bigint", False)], pk=["k"])
    engine.alter_table("fr").set_property("pk_bloom_cols", "k").apply()
    t = engine.table("fr")
    t.insert(spark.range(100).select(F.col("id").alias("k")))
    t = engine.table("fr")
    rel = t.state().files[0].bloom
    shutil.rmtree(os.path.join(t.root, rel))
    rep = engine.fsck("fr", repair=True)["fr"]
    assert rep["bad_sidecars"] == [rel]
    assert rep["repaired_sidecars"] == [rel]
    t = engine.table("fr")
    assert all(f.bloom is None for f in t.state().files)
    assert t.scan().count() == 100  # data untouched
    probe = spark.range(5).select(F.col("id").alias("k"))
    assert t.present_key_probe(probe, ["k"]) is None  # declines, not crashes
    assert engine.fsck("fr")["fr"]["ok"]  # clean after repair
    t.compact(full=True)
    t = engine.table("fr")
    got = t.present_key_check(probe, ["k"])
    assert got is not None and got.count() == 5


def test_compact_full_retry_preserves_full(engine, spark, monkeypatch):
    """compact(full=True)'s conflict retry must re-run as a FULL
    rewrite, not degrade to a plan-based partial (ADVICE r10 medium):
    fsck --repair guidance and clearing inherited sidecar flags depend
    on the takedown actually rewriting everything."""
    import kudu_spark.table as TBL
    from kudu_spark.errors import ConcurrentCommitError

    t = engine.create_table("fullrt", SIMPLE, pk=["key"])
    t.insert(simple_rows(spark, range(50)))
    t.upsert(simple_rows(spark, range(0, 10)))

    fulls = []
    orig_compact = TBL.Table.compact

    def spy(self, *a, **kw):
        fulls.append(bool(kw.get("full") or (len(a) >= 5 and a[4])))
        return orig_compact(self, *a, **kw)

    monkeypatch.setattr(TBL.Table, "compact", spy)
    orig_append = TBL.append_commit
    tripped = []

    def flaky(root, version, payload):
        if not tripped and payload.get("op") == "compact":
            tripped.append(True)
            raise ConcurrentCommitError("simulated")
        return orig_append(root, version, payload)

    monkeypatch.setattr(TBL, "append_commit", flaky)
    t.compact(full=True)
    assert tripped, "the simulated conflict never fired"
    assert fulls == [True, True], fulls  # retry kept full=True


def test_maintenance_sweep_reports_per_table_errors(engine, spark):
    """A table whose maintenance pass raises (here: a malformed
    history_max_age_sec, validated before any work) is reported under
    the sweep's '__errors__' key instead of blending into 'nothing to
    do' — and healthy tables still receive maintenance (VERDICT r11
    #4, ADVICE r11)."""
    schema = [("k", "bigint", False), ("v", "string", True)]
    rows = lambda n, s: spark.range(n).select(
        F.col("id").alias("k"), F.lit(s).alias("v"))
    engine.create_table("swbad", schema, pk=["k"])
    engine.alter_table("swbad").set_property(
        "history_max_age_sec", "soon").apply()
    good = engine.create_table("swgood", schema, pk=["k"])
    engine.alter_table("swgood") \
        .set_property("auto_compact_mode", "deferred") \
        .set_property("auto_compact_min_delta_bytes", "1") \
        .set_property("auto_compact_min_ratio", "0.0001").apply()
    good = engine.table("swgood")
    good.insert(rows(100, "a"))
    good.upsert(rows(50, "b"))
    # a table whose compaction policy itself raises (malformed ratio)
    # while it has a backlog to fold: a failed fold is an error too.
    # ALTER now rejects the value, so it is committed raw, as a log
    # written before that check could hold it.
    engine.create_table("swfold", schema, pk=["k"])
    engine.alter_table("swfold") \
        .set_property("auto_compact_mode", "deferred").apply()
    fold = engine.table("swfold")
    fold._commit(fold.state(), "alter", [],
                 props={"auto_compact_min_ratio": "abc"})
    fold = engine.table("swfold")
    fold.insert(rows(100, "a"))
    fold.upsert(rows(50, "b"))
    out = engine.maintenance_sweep()
    assert set(out.pop("__errors__")) == {"swbad", "swfold"}
    assert out == {"swbad": False, "swgood": True, "swfold": False}
    # the healthy table's backlog actually drained
    assert not any(f.kind == "delta" for f in engine.table("swgood").state().files)
    # a float-string age is user intent, not an error: parsed leniently
    engine.alter_table("swbad").set_property(
        "history_max_age_sec", "900.0").apply()
    engine.alter_table("swfold").set_property(
        "auto_compact_min_ratio", "0.0001").set_property(
        "auto_compact_min_delta_bytes", "1").apply()
    out = engine.maintenance_sweep()
    assert "__errors__" not in out and out["swfold"] is True


@pytest.mark.parametrize("key, bad, good", [
    ("auto_compact_min_ratio", ["abc", "-0.1", "1.5", "nan"], ["0", "1", "0.05"]),
    ("auto_compact_min_delta_bytes", ["abc", "-1", "1.5"], ["0", "1048576"]),
    ("auto_compact_budget_bytes", ["1e9", "-5"], ["0", "268435456"]),
    ("auto_compact_mode", ["sometimes", ""], ["inline", "async", "deferred"]),
])
def test_set_property_rejects_malformed_maintenance_values(engine, key, bad, good):
    """Maintenance properties are checked when they are set, as Kudu
    checks extra-config values at ALTER time: a malformed value fails
    the ALTER (Python or SQL) or the CREATE and commits nothing, where
    it used to commit and then stop every fold of the table."""
    engine.create_table("mp", SIMPLE, pk=["key"])
    v0 = engine.table("mp").version
    for v in bad:
        with pytest.raises(KuduSparkError, match=key):
            engine.alter_table("mp").set_property(key, v).apply()
        with pytest.raises(KuduSparkError, match=key):
            engine.sql(f"ALTER TABLE mp SET TBLPROPERTIES ('{key}' = '{v}')")
        with pytest.raises(KuduSparkError, match=key):
            engine.sql("CREATE TABLE mq (k INT, PRIMARY KEY (k)) "
                       f"TBLPROPERTIES ('{key}' = '{v}')")
        assert "mq" not in engine.list_tables()
    assert engine.table("mp").version == v0
    assert key not in engine.table("mp").state().props
    for v in good:
        engine.alter_table("mp").set_property(key, v).apply()
        assert engine.table("mp").state().props[key] == v
    engine.sql(f"ALTER TABLE mp SET TBLPROPERTIES ('{key}' = '{good[0]}')")
    assert engine.table("mp").state().props[key] == good[0]


def test_maintenance_daemon_counts_table_errors(engine, spark):
    """The daemon's stats count per-table maintenance failures (not
    just whole-sweep crashes): a persistently faulty table shows up in
    `errors` while healthy tables keep getting maintained."""
    import time

    schema = [("k", "bigint", False), ("v", "string", True)]
    engine.create_table("dbad", schema, pk=["k"])
    engine.alter_table("dbad").set_property(
        "history_max_age_sec", "not-a-number").apply()
    engine.start_maintenance(interval_s=0.1)
    try:
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            # peek the live counters through the daemon tuple
            _th, _stop, stats, lock = engine._maint_daemon
            with lock:
                if stats["errors"] >= 2 and stats["sweeps"] >= 2:
                    break
            time.sleep(0.2)
    finally:
        stats = engine.stop_maintenance()
    assert stats["sweeps"] >= 2
    assert stats["errors"] >= 2  # one per sweep, every sweep


def test_python_workers_import_the_package_without_pythonpath(tmp_path):
    """A driver that put the package on ``sys.path`` itself (no
    PYTHONPATH, no install, working directory outside the checkout)
    still runs the engine's Python UDFs: binding a session hands the
    package's directory to the Python workers. The presence probe of a
    ``pk_bloom_cols`` table runs the ``present`` pandas UDF on the
    second insert's duplicate-key check."""
    import os
    import subprocess
    import sys
    import textwrap

    checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {checkout!r})
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "2").getOrCreate())
        from kudu_spark.engine import Engine
        eng = Engine(spark, {str(tmp_path / "wh")!r})
        eng.create_table("t", [("id", "bigint", False), ("v", "string", True)],
                         pk=["id"])
        eng.alter_table("t").set_property("pk_bloom_cols", "id").apply()
        rows = "id bigint, v string"
        eng.table("t").insert(spark.createDataFrame([(1, "a"), (2, "b")], rows))
        eng.table("t").insert(spark.createDataFrame([(3, "c")], rows))
        print("IDS", sorted(r.id for r in eng.table("t").scan().collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path), env=env,
                         capture_output=True, text=True, timeout=300)
    assert "IDS [1, 2, 3]" in out.stdout, out.stderr[-4000:]

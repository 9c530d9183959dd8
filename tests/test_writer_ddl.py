"""Writer sessions, transactions, schema evolution, range add/drop,
compaction, and the JSON predicate grammar."""

from __future__ import annotations

import pytest

from kudu_spark.engine import Engine
from kudu_spark.errors import ImmutableColumnError, KuduSparkError, SchemaError
from kudu_spark.plans.predicates import parse_predicates
from kudu_spark.table import Table
from kudu_spark.writer import FlushMode, Session, Transaction

SIMPLE = [("key", "int", False), ("int_val", "int", False), ("string_val", "string", True)]


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


@pytest.fixture()
def t(engine, spark):
    t = engine.create_table("w", SIMPLE, pk=["key"])
    t.insert(
        spark.createDataFrame(
            [(k, k * 10, f"s{k}") for k in range(5)], "key int, int_val int, string_val string"
        )
    )
    return t


def snap(t):
    return {r.key: (r.int_val, r.string_val) for r in t.scan().collect()}


def test_session_manual_flush_apply_order(t):
    with Session(t, FlushMode.MANUAL_FLUSH) as s:
        s.insert({"key": 10, "int_val": 1, "string_val": "a"})
        s.upsert({"key": 10, "int_val": 2, "string_val": "b"})  # later op wins
        s.update({"key": 0, "int_val": 999})
        s.delete({"key": 1})
    s2 = snap(t)
    assert s2[10] == (2, "b")
    assert s2[0] == (999, "s0")
    assert 1 not in s2


def test_session_upsert_last_wins_same_batch(t):
    with Session(t) as s:
        s.upsert({"key": 20, "int_val": 1, "string_val": "first"})
        s.upsert({"key": 20, "int_val": 2, "string_val": "second"})
    assert snap(t)[20] == (2, "second")


def test_session_auto_flush_background(t):
    s = Session(t, FlushMode.AUTO_FLUSH_BACKGROUND, buffer_rows=2)
    s.upsert({"key": 30, "int_val": 1, "string_val": "x"})
    assert 30 not in snap(t)  # buffered
    s.upsert({"key": 31, "int_val": 1, "string_val": "y"})  # hits limit → flush
    got = snap(t)
    assert 30 in got and 31 in got


def test_session_error_collector_collects_and_applies_rest(t):
    """Per-row failures in a buffered flush land in the error
    collector while every other row applies — Kudu session semantics
    (Flush → IOError, errors via GetPendingErrors,
    client.h:2316-2420); the old first-error-aborts-the-batch shape
    lost the rest of the buffer."""
    from kudu_spark.errors import FlushFailedError

    s = Session(t, FlushMode.MANUAL_FLUSH)
    s.insert({"key": 0, "int_val": 1, "string_val": "dup"})  # key 0 exists
    s.insert({"key": 50, "int_val": 5, "string_val": "ok"})
    s.update({"key": 999, "int_val": 7})  # absent
    s.update({"key": 2, "int_val": 777})
    s.delete({"key": 998})  # absent
    s.delete({"key": 3})
    with pytest.raises(FlushFailedError, match="3 row error"):
        s.flush()
    got = snap(t)
    assert got[50] == (5, "ok") and got[2] == (777, "s2") and 3 not in got
    assert got[0] == (0, "s0")  # the dup insert did NOT clobber
    assert s.count_pending_errors() == 3
    errs, overflowed = s.get_pending_errors()
    assert not overflowed
    by_status = sorted((e.op, e.status.split(":")[0], e.row["key"]) for e in errs)
    assert by_status == [
        ("delete", "Not found", 998),
        ("insert", "Already present", 0),
        ("update", "Not found", 999),
    ]
    # GetPendingErrors drains (python/kudu/client.pyx:1816-1840)
    assert s.get_pending_errors() == ([], False)
    # the session stays usable after a failed flush
    s.insert({"key": 51, "int_val": 1, "string_val": "later"})
    s.flush()
    assert 51 in snap(t)


def test_session_error_collector_in_batch_dup_and_null_pk(t):
    """Second insert of the same key inside ONE buffer errors (apply
    order: first wins, fuzz-itest.cc:122-141), and a NULL PK is an
    invalid-argument row error, not a batch abort."""
    from kudu_spark.errors import FlushFailedError

    s = Session(t, FlushMode.MANUAL_FLUSH)
    s.insert({"key": 60, "int_val": 1, "string_val": "first"})
    s.insert({"key": 60, "int_val": 2, "string_val": "second"})
    s.insert({"key": None, "int_val": 3, "string_val": "nullpk"})
    with pytest.raises(FlushFailedError):
        s.flush()
    assert snap(t)[60] == (1, "first")
    errs, _ = s.get_pending_errors()
    statuses = sorted(e.status.split(":")[0] for e in errs)
    assert statuses == ["Already present", "Invalid argument"]
    assert errs[0].failed_op()[0] == "insert"


def test_session_error_buffer_overflow(t):
    """Capacity-exceeded errors are dropped and flagged
    (SetErrorBufferSpace, client.h:2391; error_collector.cc)."""
    from kudu_spark.errors import FlushFailedError

    s = Session(t, FlushMode.MANUAL_FLUSH, error_buffer_ops=2)
    for k in (990, 991, 992):
        s.delete({"key": k})  # all absent
    with pytest.raises(FlushFailedError, match="3 row error"):
        s.flush()
    errs, overflowed = s.get_pending_errors()
    assert len(errs) == 2 and overflowed


def test_session_ignore_ops_collect_nothing(t):
    """IGNORE variants swallow row misses exactly like the reference
    (row_operations.proto:40-43): nothing reaches the collector."""
    s = Session(t, FlushMode.MANUAL_FLUSH)
    s.apply("insert_ignore", {"key": 0, "int_val": 9, "string_val": "dup"})
    s.apply("update_ignore", {"key": 999, "int_val": 9})
    s.apply("delete_ignore", {"key": 998})
    s.flush()
    assert s.count_pending_errors() == 0
    assert snap(t)[0] == (0, "s0")


def test_session_write_op_metrics(t, engine, spark):
    """GetWriteOpMetrics parity — key names and accounting follow
    client-test.cc:3377-3440,9771-9818: swallowed IGNORE ops count
    only <op>_ignore_errors (except UPSERT_IGNORE's immutable skip,
    which also counts successful_upserts), applied ops count
    successful_<op>s, collected errors count neither."""
    s = Session(t, FlushMode.MANUAL_FLUSH)
    s.insert({"key": 80, "int_val": 1, "string_val": "a"})
    s.insert({"key": 81, "int_val": 1, "string_val": "b"})
    s.apply("insert_ignore", {"key": 80, "int_val": 9, "string_val": "dup"})
    s.apply("insert_ignore", {"key": 82, "int_val": 1, "string_val": "new"})
    s.upsert({"key": 83, "int_val": 1, "string_val": "up"})
    s.update({"key": 80, "int_val": 2})
    s.apply("update_ignore", {"key": 999, "int_val": 2})
    s.delete({"key": 81})
    s.apply("delete_ignore", {"key": 998})
    s.flush()
    m = s.get_write_op_metrics()
    assert m == {
        "successful_inserts": 3, "insert_ignore_errors": 1,
        "successful_upserts": 1, "upsert_ignore_errors": 0,
        "successful_updates": 1, "update_ignore_errors": 1,
        "successful_deletes": 1, "delete_ignore_errors": 1,
    }
    assert not s.has_pending_operations()
    s.upsert({"key": 84, "int_val": 1, "string_val": "pend"})
    assert s.has_pending_operations()
    s.flush()
    # a collected error (absent-key DELETE) counts in NO metric
    from kudu_spark.errors import FlushFailedError

    s.delete({"key": 997})
    with pytest.raises(FlushFailedError):
        s.flush()
    m = s.get_write_op_metrics()
    assert m["successful_upserts"] == 2 and m["successful_deletes"] == 1

    # UPSERT_IGNORE touching an immutable cell of an existing row:
    # successful_upserts++ AND upsert_ignore_errors++
    # (client-test.cc:9805-9818)
    ti = engine.create_table("imm_m", SIMPLE, pk=["key"],
                             immutable_cols=["string_val"])
    ti.insert(spark.createDataFrame([(1, 1, "frozen")],
                                    "key int, int_val int, string_val string"))
    si = Session(ti, FlushMode.MANUAL_FLUSH)
    si.upsert({"key": 1, "int_val": 2, "string_val": "frozen"})  # unchanged cell: ok
    si.upsert({"key": 2, "int_val": 1, "string_val": "new-row"})
    si.flush()
    mi = si.get_write_op_metrics()
    assert mi["successful_upserts"] == 2 and mi["upsert_ignore_errors"] == 0
    si.apply("upsert_ignore", {"key": 1, "int_val": 3, "string_val": "changed"})
    si.apply("upsert_ignore", {"key": 1, "int_val": 4})  # cell unset: no skip
    si.flush()
    mi = si.get_write_op_metrics()
    assert mi["successful_upserts"] == 4 and mi["upsert_ignore_errors"] == 1
    got = {r.key: (r.int_val, r.string_val) for r in ti.scan().collect()}
    assert got[1] == (4, "frozen")


@pytest.mark.slow  # nightly lane (pytest.ini): exhaustive/stress
def test_fuzz_session_error_collector_vs_model(t):
    """Seeded op-sequence fuzz of the buffered session against a
    sequential-apply model (fuzz-itest.cc:122-141 discipline): after
    every flush the table state, the collected errors (op, key,
    status), the FlushFailedError outcome, and the cumulative write-op
    metrics must all match the model exactly."""
    import random

    from kudu_spark.errors import FlushFailedError

    rng = random.Random(1117)
    s = Session(t, FlushMode.MANUAL_FLUSH)
    model = {k: (k * 10, f"s{k}") for k in range(5)}
    metrics = {
        k: 0 for k in (
            "successful_inserts", "insert_ignore_errors",
            "successful_upserts", "upsert_ignore_errors",
            "successful_updates", "update_ignore_errors",
            "successful_deletes", "delete_ignore_errors",
        )
    }
    OPS = ["insert", "insert_ignore", "upsert", "upsert_ignore",
           "update", "update_ignore", "delete", "delete_ignore"]

    def sim_flush(buf):
        """Expected (errors, model mutation, metric bumps) for one
        flush: consecutive same-op runs, key-presence judged at run
        start (plus in-run insert dup / delete tombstone order)."""
        errors = []
        runs: list[tuple[str, list[dict]]] = []
        for op, row in buf:
            if runs and runs[-1][0] == op:
                runs[-1][1].append(row)
            else:
                runs.append((op, [row]))
        for op, rows in runs:
            ignore = op.endswith("_ignore")
            base = op[: -len("_ignore")] if ignore else op
            start = set(model)
            if base == "insert":
                seen: set[int] = set()
                for r in rows:
                    k = r["key"]
                    if k in seen or k in start:
                        if ignore:
                            metrics["insert_ignore_errors"] += 1
                        else:
                            errors.append((op, k, "Already present"))
                    else:
                        seen.add(k)
                        model[k] = (r["int_val"], r["string_val"])
                        metrics["successful_inserts"] += 1
            elif base == "update":
                for r in rows:
                    k = r["key"]
                    if k in start:
                        model[k] = (r["int_val"], model[k][1])
                        metrics["successful_updates"] += 1
                    elif ignore:
                        metrics["update_ignore_errors"] += 1
                    else:
                        errors.append((op, k, "Not found"))
            elif base == "delete":
                dead: set[int] = set()
                for r in rows:
                    k = r["key"]
                    if k in start and k not in dead:
                        dead.add(k)
                        model.pop(k)
                        metrics["successful_deletes"] += 1
                    elif ignore:
                        metrics["delete_ignore_errors"] += 1
                    else:
                        errors.append((op, k, "Not found"))
            else:  # upsert / upsert_ignore: never key-fails here
                for r in rows:
                    model[r["key"]] = (r["int_val"], r["string_val"])
                    metrics["successful_upserts"] += 1
        return errors

    step = 0
    for _ in range(6):
        buf = []
        for _ in range(rng.randint(4, 9)):
            op = rng.choice(OPS)
            k = rng.choice(range(12))
            v = step * 100 + k
            step += 1
            if op.startswith("update"):
                row = {"key": k, "int_val": v}
            elif op.startswith("delete"):
                row = {"key": k}
            else:
                row = {"key": k, "int_val": v, "string_val": f"s{v}"}
            buf.append((op, row))
            s.apply(op, row)
        expected_errors = sim_flush(buf)
        if expected_errors:
            with pytest.raises(FlushFailedError,
                               match=f"{len(expected_errors)} row error"):
                s.flush()
        else:
            s.flush()
        got_errors, overflowed = s.get_pending_errors()
        assert not overflowed
        assert sorted((e.op, e.row["key"], e.status.split(":")[0])
                      for e in got_errors) == sorted(expected_errors)
        assert snap(t) == model
    assert s.get_write_op_metrics() == metrics


def test_session_update_last_mention_wins(t):
    """Two UPDATEs of one key in one buffered run: the later op's value
    is the one that lands (Kudu applies ops in order)."""
    with Session(t) as s:
        for k in range(5):
            s.update({"key": k, "int_val": 1000 + k})
        for k in range(5):
            s.update({"key": k, "int_val": 2000 + k})
    assert {k: v[0] for k, v in snap(t).items()} == {k: 2000 + k for k in range(5)}


@pytest.mark.parametrize("nullable", [True, False], ids=["nullable", "not_null"])
def test_session_run_fills_each_rows_unset_cells_as_alone(engine, nullable):
    """A row that leaves a defaulted column unset gets what a flush
    holding it alone gives (Kudu fills a default per row), also when
    another row of its run sets that column: an insert or upsert writes
    the default, an update keeps the stored value. Twin tables: one flush
    of every op against one flush per op. A run whose rows set the same
    columns stays one commit."""
    cols = [("k", "int", False), ("v", "int", True), ("dflt", "int", nullable)]
    ops = [("upsert", {"k": 1, "v": 1, "dflt": 3}),
           ("upsert", {"k": 2, "v": 2}),
           ("upsert", {"k": 1, "v": 9}),
           ("insert", {"k": 4, "v": 4}),
           ("insert", {"k": 5, "v": 5, "dflt": 8}),
           ("update", {"k": 2, "dflt": 5}),
           ("update", {"k": 4, "v": 40})]
    one = engine.create_table("one_flush", cols, pk=["k"], defaults={"dflt": 7})
    alone = engine.create_table("per_op", cols, pk=["k"], defaults={"dflt": 7})
    s = Session(one)
    for op, row in ops:
        s.apply(op, row)
    s.flush()
    for op, row in ops:
        with Session(alone) as s:
            s.apply(op, row)

    def rows(t):
        return {r.k: (r.v, r.dflt) for r in t.scan().collect()}

    assert rows(one) == rows(alone) == {1: (9, 7), 2: (2, 5), 4: (40, 7), 5: (5, 8)}
    s = Session(one)
    for k in (6, 7, 8):
        s.upsert({"k": k, "v": k})
    assert len(s.flush()) == 1


def test_plain_table_writes_record_no_presence_decline(t, spark):
    """A table without pk_bloom_cols has no presence index to ask, so
    its key probes never log a declined presence lookup."""
    Table._presence_decline_seen -= {d for d in Table._presence_decline_seen
                                     if d[0] == t.name}
    t.insert(spark.createDataFrame([(90, 1, "a")], "key int, int_val int, string_val string"))
    with Session(t) as s:
        s.insert({"key": 91, "int_val": 1, "string_val": "b"})
        s.update({"key": 90, "int_val": 2})
        s.delete({"key": 0})
    txn = Transaction(t)
    txn.insert(spark.createDataFrame([(92, 1, "c")], "key int, int_val int, string_val string"))
    txn.commit()
    assert not {d for d in Table._presence_decline_seen if d[0] == t.name}
    assert {90, 91, 92} <= set(snap(t)) and 0 not in snap(t)


def test_session_sync_mode_raises_from_apply(t):
    """AUTO_FLUSH_SYNC surfaces the row error synchronously from
    apply(), like the reference client's Apply() in sync mode."""
    from kudu_spark.errors import DuplicateKeyError

    s = Session(t, FlushMode.AUTO_FLUSH_SYNC)
    with pytest.raises(DuplicateKeyError):
        s.insert({"key": 0, "int_val": 1, "string_val": "dup"})
    assert s.count_pending_errors() == 0


def test_session_background_flush_interval(t):
    """SetMutationBufferFlushInterval parity: in background mode an
    aged buffer flushes on the next apply() even below buffer_rows
    (client.pyx:1742-1763)."""
    s = Session(t, FlushMode.AUTO_FLUSH_BACKGROUND, buffer_rows=100)
    s.set_mutation_buffer_flush_interval(0)  # every buffer is "aged"
    s.upsert({"key": 70, "int_val": 1, "string_val": "x"})
    assert 70 in snap(t) and not s.has_pending_operations()
    s2 = Session(t, FlushMode.AUTO_FLUSH_BACKGROUND, buffer_rows=100)
    s2.set_mutation_buffer_flush_interval(3_600_000)  # never ages in-test
    s2.upsert({"key": 71, "int_val": 1, "string_val": "y"})
    assert 71 not in snap(t) and s2.has_pending_operations()
    s2.flush()
    assert 71 in snap(t)


def test_transaction_atomic_commit(t, spark):
    v0 = t.version
    txn = Transaction(t)
    txn.insert(spark.createDataFrame([(40, 1, "a")], "key int, int_val int, string_val string"))
    txn.delete(spark.createDataFrame([(0,)], "key int"))
    assert snap(t) == {k: (k * 10, f"s{k}") for k in range(5)}  # nothing visible yet
    txn.commit()
    got = snap(t)
    assert got[40] == (1, "a") and 0 not in got
    assert t.version == v0 + 1  # ONE commit for both ops


def test_transaction_insert_duplicate_pk_rejected(t, spark):
    """Txn INSERT follows row_operations.proto:36: a PK that already
    exists — committed, or staged by an earlier insert in the same
    txn — fails. Guards the merge fast path's base-uniqueness
    invariant (a duplicate base row with no delta entry would stream
    twice through the anti-join)."""
    from kudu_spark.errors import DuplicateKeyError

    ddl = "key int, int_val int, string_val string"
    txn = Transaction(t)
    with pytest.raises(DuplicateKeyError):  # key 0 is committed
        txn.insert(spark.createDataFrame([(0, 9, "dup")], ddl))
    txn.insert(spark.createDataFrame([(60, 1, "a")], ddl))
    with pytest.raises(DuplicateKeyError):  # key 60 staged in this txn
        txn.insert(spark.createDataFrame([(60, 2, "b")], ddl))
    with pytest.raises(DuplicateKeyError):  # dup inside one batch
        txn.insert(spark.createDataFrame([(61, 1, "x"), (61, 2, "y")], ddl))
    txn.commit()  # the one valid insert still commits
    got = snap(t)
    assert got[60] == (1, "a")
    # scan returns each PK exactly once (merge fast path invariant)
    keys = [r.key for r in t.scan().select("key").collect()]
    assert len(keys) == len(set(keys))


def test_transaction_insert_commit_revalidates(t, spark):
    """A key inserted by ANOTHER writer between stage and commit fails
    the txn at commit() (Kudu txns fail on conflicting rows at commit),
    and rollback reclaims the staged files."""
    from kudu_spark.errors import DuplicateKeyError

    ddl = "key int, int_val int, string_val string"
    txn = Transaction(t)
    txn.insert(spark.createDataFrame([(70, 1, "txn")], ddl))
    t.insert(spark.createDataFrame([(70, 2, "racer")], ddl))  # concurrent writer wins
    with pytest.raises(DuplicateKeyError):
        txn.commit()
    got = snap(t)
    assert got[70] == (2, "racer")
    keys = [r.key for r in t.scan().select("key").collect()]
    assert len(keys) == len(set(keys))


TXN_DDL = "key int, int_val int, string_val string"


@pytest.mark.parametrize("case", [
    "upsert_null_pk", "upsert_null_non_nullable", "upsert_immutable",
    "upsert_unknown_column", "insert_non_unique_pk",
])
def test_transaction_ops_validate_like_table_ops(engine, spark, case):
    """A Transaction op accepts and rejects exactly what the matching
    Table op does: both stage through the same validation."""
    if case == "insert_non_unique_pk":
        tb = engine.create_table("txn_nu", SIMPLE, pk=["key"], non_unique_pk=True)
        batch = spark.createDataFrame([(1, 10, "a"), (1, 11, "b")], TXN_DDL)
        tb.insert(batch)
        txn = Transaction(tb)
        txn.insert(batch)
        txn.insert(batch)
        txn.commit()
        tb.insert(batch)  # the counter moved past the txn's ids
        out = tb.scan().collect()
        assert sorted(r.int_val for r in out) == [10] * 4 + [11] * 4
        assert len({r.auto_incrementing_id for r in out}) == 8
        return
    imm = ["string_val"] if case == "upsert_immutable" else None
    tb = engine.create_table("txn_v", SIMPLE, pk=["key"], immutable_cols=imm)
    tb.insert(spark.createDataFrame([(1, 10, "s1")], TXN_DDL))
    row, ddl, err = {
        "upsert_null_pk": ((None, 1, "x"), TXN_DDL, SchemaError),
        "upsert_null_non_nullable": ((2, None, "x"), TXN_DDL, SchemaError),
        "upsert_immutable": ((1, 11, "changed"), TXN_DDL, ImmutableColumnError),
        "upsert_unknown_column": ((2, 1, "x", 5), TXN_DDL + ", intval int", SchemaError),
    }[case]
    batch = spark.createDataFrame([row], ddl)
    with pytest.raises(err):
        tb.upsert(batch)
    txn = Transaction(tb)
    with pytest.raises(err):
        txn.upsert(batch)
        txn.commit()
    txn.rollback()
    assert {r.key: (r.int_val, r.string_val) for r in tb.scan().collect()} == {1: (10, "s1")}


@pytest.mark.parametrize("racer_key", [1, 2])
def test_transaction_insert_non_unique_pk_concurrent_insert(engine, spark, racer_key):
    """A Table.insert committing between a txn INSERT's staging and its
    commit reserved ids from the same counter value: the txn fails at
    commit instead of publishing overlapping ids (racer_key=2) or
    reporting a duplicate key inserts cannot produce (racer_key=1), and
    the table keeps only the other writer's rows."""
    from kudu_spark.errors import ConcurrentCommitError

    tb = engine.create_table("txn_nu_race", SIMPLE, pk=["key"], non_unique_pk=True)
    txn = Transaction(tb)
    txn.insert(spark.createDataFrame([(1, 10, "a")], TXN_DDL))
    tb.insert(spark.createDataFrame([(racer_key, 20, "b")], TXN_DDL))
    with pytest.raises(ConcurrentCommitError):
        txn.commit()
    assert [(r.key, r.int_val) for r in tb.scan().collect()] == [(racer_key, 20)]
    tb.insert(spark.createDataFrame([(1, 10, "a")], TXN_DDL))
    ids = [r.auto_incrementing_id for r in tb.scan().collect()]
    assert len(ids) == len(set(ids)) == 2


@pytest.mark.parametrize("non_unique", [False, True])
def test_insert_auto_inc_column_rejected_before_drift_alter(engine, spark, non_unique):
    """An INSERT batch that sets auto_incrementing_id is rejected before
    handle_schema_drift's ALTER commits: a rejected write leaves the
    schema as it was."""
    tb = engine.create_table("drift_ai", SIMPLE, pk=["key"], non_unique_pk=non_unique)
    before = tb.state()
    batch = spark.createDataFrame(
        [(1, 10, "a", 7, 3)], TXN_DDL + ", auto_incrementing_id bigint, extra int")
    with pytest.raises(SchemaError, match="auto-incrementing"):
        tb.insert(batch, handle_schema_drift=True)
    after = tb.state()
    assert after.version == before.version
    assert after.schema.names == before.schema.names


def test_transaction_delete_is_blind(t, spark):
    """Txn DELETE writes tombstones without an absent-key check: a key
    inserted earlier in the same txn is deleted at commit, and a key
    that exists nowhere commits without error."""
    txn = Transaction(t)
    txn.insert(spark.createDataFrame([(80, 1, "a")], TXN_DDL))
    txn.delete(spark.createDataFrame([(80,)], "key int"))
    txn.delete(spark.createDataFrame([(99,)], "key int"))
    txn.commit()
    assert snap(t) == {k: (k * 10, f"s{k}") for k in range(5)}


def test_transaction_rollback(t, spark):
    txn = Transaction(t)
    txn.insert(spark.createDataFrame([(50, 1, "a")], "key int, int_val int, string_val string"))
    txn.rollback()
    assert 50 not in snap(t)
    with pytest.raises(KuduSparkError):
        txn.commit()


def test_alter_add_drop_rename(engine, spark, t):
    engine.alter_table("w").add_column("score", "double", default=0.5).apply()
    got = t.scan().collect()[0]
    assert got.score == 0.5  # old rows read the default
    t.upsert(
        spark.createDataFrame(
            [(0, 1, "z", 9.9)], "key int, int_val int, string_val string, score double"
        )
    )
    s = {r.key: r.score for r in t.scan().collect()}
    assert s[0] == 9.9 and s[1] == 0.5
    # rename keeps data via column IDs
    engine.alter_table("w").rename_column("score", "points").apply()
    s = {r.key: r.points for r in t.scan().collect()}
    assert s[0] == 9.9
    engine.alter_table("w").drop_column("points").apply()
    assert "points" not in t.scan().columns
    with pytest.raises(SchemaError):
        engine.alter_table("w").drop_column("key").apply()
    with pytest.raises(SchemaError):
        engine.alter_table("w").add_column("bad", "int", nullable=False).apply()


def test_range_partition_add_drop(engine, spark):
    t = engine.create_table(
        "rp", SIMPLE, pk=["key"],
        range_partition={"column": "key", "ranges": [[0, 100]]},
    )
    rows = lambda ks: spark.createDataFrame(
        [(k, k, f"s{k}") for k in ks], "key int, int_val int, string_val string"
    )
    t.insert(rows([1, 2]))
    with pytest.raises(KuduSparkError):
        t.insert(rows([150]))  # not covered yet
    engine.alter_table("rp").add_range_partition(100, 200).apply()
    t.insert(rows([150]))
    assert t.scan().count() == 3
    # dropping a range partition drops its rows (Kudu semantics)
    engine.alter_table("rp").drop_range_partition(0, 100).apply()
    got = [r.key for r in t.scan().collect()]
    assert got == [150]
    # and pruning still works after the id remap
    assert t.scan(filters=[("key", "=", 150)]).count() == 1


def test_compaction_folds_deltas(engine, spark, t):
    for i in range(3):
        t.upsert(
            spark.createDataFrame(
                [(0, i, f"u{i}")], "key int, int_val int, string_val string"
            )
        )
    t.delete(spark.createDataFrame([(2,)], "key int"))
    before = snap(t)
    st = t.state()
    assert any(f.kind == "delta" for f in st.files)
    t.compact()
    st2 = t.state()
    assert all(f.kind == "base" for f in st2.files)
    assert snap(t) == before  # contents unchanged
    assert t.vacuum() == 0  # retention guard: young files survive a default vacuum
    removed = t.vacuum(force=True)
    assert removed > 0
    assert snap(t) == before


def test_json_predicate_grammar(t):
    preds = parse_predicates('["AND", [">=", "key", 1], ["<", "key", 4], ["NOTNULL", "string_val"]]')
    assert preds == [("key", ">=", 1), ("key", "<", 4), ("string_val", "not_null", None)]
    assert t.scan(filters=preds).count() == 3
    assert parse_predicates('["IN", "key", [1, 2]]') == [("key", "in", [1, 2])]
    assert t.scan(filters=parse_predicates('["IN", "key", [1, 2]]')).count() == 2
    with pytest.raises(KuduSparkError):
        parse_predicates('["OR", ["=", "key", 1]]')


def simple_rows(spark, keys, base=0):
    return spark.createDataFrame(
        [(k, k * 10 + base, f"s{k}") for k in keys], "key int, int_val int, string_val string"
    )


def test_per_range_custom_hash_schema(engine, spark):
    """Per-range custom hash schemas (partition.h:512-517): a hot
    range carries more buckets than the table default; writes route
    with the per-range modulus and eq-scans prune per range."""
    t = engine.create_table(
        "custom_hash", SIMPLE, pk=["key"],
        hash_partitions=[{"columns": ["key"], "buckets": 2}],
        range_partition={"column": "key", "ranges": [[0, 500], [500, 1000]],
                         "hash_overrides": {1: 8}},
    )
    t.insert(simple_rows(spark, range(1000)))
    st = t.state()
    buckets_by_range = {}
    for f in st.files:
        buckets_by_range.setdefault(f.partition["range"], set()).add(f.partition["hash"][0])
    assert buckets_by_range[0] <= set(range(2)) and len(buckets_by_range[0]) == 2
    assert buckets_by_range[1] <= set(range(8)) and len(buckets_by_range[1]) > 2
    # correctness + per-range eq pruning
    assert t.scan().count() == 1000
    for probe in (3, 700):
        got = t.scan(filters=[("key", "=", probe)]).collect()
        assert len(got) == 1 and got[0].key == probe
        pruned = t._prune(st, [("key", "=", probe)])
        assert len(pruned) == 1
    # online add of a custom-hash range (client.h:2006 + custom schema)
    engine.alter_table("custom_hash").add_range_partition(1000, 2000, hash_buckets=4).apply()
    t.insert(simple_rows(spark, range(1000, 1100)))
    st2 = t.state()
    new_buckets = {f.partition["hash"][0] for f in st2.files if f.partition["range"] == 2}
    assert new_buckets <= set(range(4))
    assert t.scan().count() == 1100
    got = t.scan(filters=[("key", "=", 1050)]).collect()
    assert len(got) == 1


def test_locate_row_with_custom_hash(engine, spark):
    t = engine.create_table(
        "loc", SIMPLE, pk=["key"],
        hash_partitions=[{"columns": ["key"], "buckets": 2}],
        range_partition={"column": "key", "ranges": [[0, 500], [500, 1000]],
                         "hash_overrides": {1: 8}},
    )
    t.insert(simple_rows(spark, [3, 700]))
    st = t.state()
    for probe in (3, 700):
        loc = engine.locate_row("loc", {"key": probe})
        match = [f for f in st.files
                 if f.partition["hash"] == loc["hash"] and f.partition["range"] == loc["range"]]
        assert match, f"locate_row({probe}) -> {loc} matches no file"


def test_engine_transaction_cross_table(engine, spark):
    """Cross-table transaction (client.h:445-545): one commit per
    participant table, all staged invisibly until commit()."""
    ddl = "key int, int_val int, string_val string"
    a = engine.create_table("xa", SIMPLE, pk=["key"])
    b = engine.create_table("xb", SIMPLE, pk=["key"])
    a.insert(spark.createDataFrame([(1, 1, "a")], ddl))
    b.insert(spark.createDataFrame([(1, 1, "b")], ddl))
    txn = engine.transaction()
    txn.insert("xa", spark.createDataFrame([(2, 2, "a2")], ddl))
    txn.upsert("xb", spark.createDataFrame([(1, 99, "b99")], ddl))
    # nothing visible before commit
    assert a.scan().count() == 1 and b.scan().count() == 1
    versions = txn.commit()
    assert set(versions) == {"xa", "xb"}
    assert {r.key for r in a.scan().collect()} == {1, 2}
    got_b = {r.key: r.int_val for r in b.scan().collect()}
    assert got_b == {1: 99}
    # marker cleaned up
    import os

    assert not os.listdir(os.path.join(engine.root, "_txns"))


def test_engine_transaction_conflict_compensates(engine, spark):
    """If one participant's publish is rejected (duplicate key raced
    in), already-published participants are compensated — no partial
    transaction survives."""
    from kudu_spark.errors import DuplicateKeyError

    ddl = "key int, int_val int, string_val string"
    a = engine.create_table("ca", SIMPLE, pk=["key"])
    b = engine.create_table("cb", SIMPLE, pk=["key"])
    a.insert(spark.createDataFrame([(1, 1, "a")], ddl))
    b.insert(spark.createDataFrame([(1, 1, "b")], ddl))
    txn = engine.transaction()
    txn.insert("ca", spark.createDataFrame([(2, 2, "new")], ddl))
    txn.insert("cb", spark.createDataFrame([(7, 7, "mine")], ddl))
    # another writer takes cb's key AFTER staging, BEFORE commit
    b.insert(spark.createDataFrame([(7, 70, "racer")], ddl))
    with pytest.raises(DuplicateKeyError):
        txn.commit()
    # ca's published commit was compensated; cb untouched by the txn
    assert {r.key for r in a.scan().collect()} == {1}
    got_b = {r.key: r.int_val for r in b.scan().collect()}
    assert got_b == {1: 1, 7: 70}


def test_engine_transaction_crash_recovery(engine, spark):
    """Hard crash after the marker is durable and one participant's
    commit is appended, before the other's: recover_transactions
    completes the missing commit from the marker's manifest, making
    the transaction all-or-nothing at the durability level."""
    import json
    import os
    import uuid

    ddl = "key int, int_val int, string_val string"
    a = engine.create_table("ra", SIMPLE, pk=["key"])
    b = engine.create_table("rb", SIMPLE, pk=["key"])
    txn = engine.transaction()
    txn.insert("ra", spark.createDataFrame([(1, 1, "a")], ddl))
    txn.insert("rb", spark.createDataFrame([(2, 2, "b")], ddl))
    # reproduce commit()'s durable steps 1-3 for ONE participant, then
    # "die" before the other — exactly the state a crash leaves behind
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
    txn._parts["ra"]._publish(txn_id)

    assert a.scan().count() == 1 and b.scan().count() == 0  # torn state
    done = engine.recover_transactions()
    assert done == [txn_id]
    assert {r.key for r in a.scan().collect()} == {1}
    assert {r.key for r in b.scan().collect()} == {2}
    assert not os.listdir(os.path.join(engine.root, "_txns"))
    assert engine.recover_transactions() == []  # idempotent


def test_engine_transaction_abort_emits_cdc_retractions(engine, spark):
    """A compensated txn's rows are retracted from the change feed:
    upserted keys re-emit their restored pre-txn image, inserted keys
    emit a tombstone — consumers never keep phantom rows from a txn
    that was aborted after a participant conflict."""
    from kudu_spark.errors import DuplicateKeyError
    from kudu_spark.streaming.source import read_changes

    ddl = "key int, int_val int, string_val string"
    a = engine.create_table("cca", SIMPLE, pk=["key"])
    b = engine.create_table("ccb", SIMPLE, pk=["key"])
    a.insert(spark.createDataFrame([(1, 1, "orig")], ddl))
    b.insert(spark.createDataFrame([(1, 1, "b")], ddl))
    txn = engine.transaction()
    txn.upsert("cca", spark.createDataFrame([(1, 11, "changed")], ddl))
    txn.insert("cca", spark.createDataFrame([(2, 2, "phantom")], ddl))
    txn.insert("ccb", spark.createDataFrame([(7, 7, "mine")], ddl))
    # another writer takes ccb's key AFTER staging, BEFORE commit
    b.insert(spark.createDataFrame([(7, 70, "racer")], ddl))
    with pytest.raises(DuplicateKeyError):
        txn.commit()
    feed = read_changes(spark, a.root).collect()
    # the txn's events went out before the conflict was discovered...
    assert any(r.key == 2 and not r._is_deleted for r in feed)
    # ...and the abort retracted them at a later feed version
    v_abort = max(r._change_version for r in feed)
    retr = {r.key: r for r in feed if r._change_version == v_abort}
    assert set(retr) == {1, 2}
    assert retr[2]._is_deleted  # phantom insert tombstoned
    assert not retr[1]._is_deleted  # upserted key: restored pre-txn image
    assert (retr[1].int_val, retr[1].string_val) == (1, "orig")
    # a consumer applying the feed in version order converges on the
    # true table state
    assert {r.key: (r.int_val, r.string_val) for r in a.scan().collect()} == {
        1: (1, "orig")
    }


def _marker_for(engine, txn, txn_id, state):
    import json
    import os

    os.makedirs(os.path.join(engine.root, "_txns"), exist_ok=True)
    marker = os.path.join(engine.root, "_txns", f"{txn_id}.json")
    with open(marker, "w") as f:
        json.dump({
            "txn_id": txn_id,
            "state": state,
            "participants": {
                n: {"root": t.table.root,
                    "entries": [e.to_json() for _, es in t._staged for e in es],
                    "ids": t._ids}
                for n, t in txn._parts.items()
            },
        }, f)
    return marker


def test_crash_mid_compensation_recovers_as_abort(engine, spark):
    """Marker flipped to 'aborting', one participant's txn commit
    published, then the coordinator died mid-compensation: recover()
    must FINISH the abort (compensate the published participant,
    reclaim the other's staged files) — never complete the commit of
    an effectively-aborted transaction."""
    import os
    import uuid

    ddl = "key int, int_val int, string_val string"
    a = engine.create_table("ma", SIMPLE, pk=["key"])
    b = engine.create_table("mb", SIMPLE, pk=["key"])
    a.insert(spark.createDataFrame([(1, 1, "a")], ddl))
    txn = engine.transaction()
    txn.insert("ma", spark.createDataFrame([(2, 2, "x")], ddl))
    txn.insert("mb", spark.createDataFrame([(3, 3, "y")], ddl))
    txn_id = uuid.uuid4().hex
    _marker_for(engine, txn, txn_id, "aborting")
    txn._parts["ma"]._publish(txn_id)
    staged_b = [e.path for _, es in txn._parts["mb"]._staged for e in es]
    assert all(os.path.exists(os.path.join(b.root, p)) for p in staged_b)

    done = engine.recover_transactions()
    assert done == [txn_id]
    assert {r.key for r in a.scan().collect()} == {1}  # txn rows rolled back
    assert b.scan().count() == 0
    assert not any(os.path.exists(os.path.join(b.root, p)) for p in staged_b)
    assert not os.listdir(os.path.join(engine.root, "_txns"))
    assert engine.recover_transactions() == []  # idempotent


def test_recover_reprobes_staged_inserts(engine, spark):
    """'committing' marker with the second participant unpublished;
    during the crash window another writer took its staged key.
    Blindly appending the recovered commit would put a duplicate PK in
    the base (breaking the uniqueness invariant the merge fast path
    relies on) — recover() must abort the WHOLE transaction instead,
    compensating the already-published first participant."""
    import os
    import uuid

    ddl = "key int, int_val int, string_val string"
    a = engine.create_table("pa", SIMPLE, pk=["key"])
    b = engine.create_table("pb", SIMPLE, pk=["key"])
    a.insert(spark.createDataFrame([(1, 1, "a")], ddl))
    b.insert(spark.createDataFrame([(1, 1, "b")], ddl))
    txn = engine.transaction()
    txn.insert("pa", spark.createDataFrame([(2, 2, "x")], ddl))
    txn.insert("pb", spark.createDataFrame([(9, 9, "mine")], ddl))
    txn_id = uuid.uuid4().hex
    _marker_for(engine, txn, txn_id, "committing")
    txn._parts["pa"]._publish(txn_id)
    # crash window: a concurrent writer takes pb's staged key
    b.insert(spark.createDataFrame([(9, 90, "racer")], ddl))

    done = engine.recover_transactions()
    assert done == [txn_id]
    assert {r.key for r in a.scan().collect()} == {1}  # published part compensated
    got_b = {r.key: r.int_val for r in b.scan().collect()}
    assert got_b == {1: 1, 9: 90}  # racer's row intact, txn row absent
    assert not os.listdir(os.path.join(engine.root, "_txns"))


def test_recover_aborts_on_concurrent_auto_inc_ids(engine, spark):
    """'committing' marker with a non-unique-PK participant unpublished;
    during the crash window a Table.insert reserved ids from the same
    counter value. recover() aborts instead of publishing overlapping
    ids."""
    import os
    import uuid

    ddl = "key int, int_val int, string_val string"
    nu = engine.create_table("nu_rec", SIMPLE, pk=["key"], non_unique_pk=True)
    txn = engine.transaction()
    txn.insert("nu_rec", spark.createDataFrame([(9, 9, "mine")], ddl))
    txn_id = uuid.uuid4().hex
    _marker_for(engine, txn, txn_id, "committing")
    nu.insert(spark.createDataFrame([(8, 80, "racer")], ddl))

    assert engine.recover_transactions() == [txn_id]
    assert [(r.key, r.int_val) for r in nu.scan().collect()] == [(8, 80)]
    assert not os.listdir(os.path.join(engine.root, "_txns"))


def test_deferred_maintenance_sweep(engine, spark):
    """auto_compact_mode='deferred': mutations never pay rewrite IO
    inline; Engine.maintenance_sweep() drains the backlog (Kudu's
    MaintenanceManager operating model)."""
    from kudu_spark.meta import read_log

    t = engine.create_table("dm", SIMPLE, pk=["key"])
    ddl = "key int, int_val int, string_val string"
    t.insert(spark.createDataFrame([(k, k, "x") for k in range(500)], ddl))
    engine.alter_table("dm").set_property("auto_compact_mode", "deferred") \
        .set_property("auto_compact_min_delta_bytes", 1) \
        .set_property("auto_compact_min_ratio", 0.0001).apply()
    t.upsert(spark.createDataFrame([(k, k + 1, "y") for k in range(400)], ddl))
    ops = [c["op"] for c in read_log(t.root)]
    assert "compact" not in ops, "deferred table compacted inline"
    swept = engine.maintenance_sweep()
    assert swept["dm"] is True
    ops = [c["op"] for c in read_log(t.root)]
    assert "compact" in ops
    got = {r.key: r.int_val for r in t.scan().collect()}
    assert len(got) == 500 and got[3] == 4 and got[450] == 450


def test_inline_fold_skips_while_maintenance_mutex_held(engine, spark):
    """An inline fold skips a table whose maintenance mutex is held (a
    daemon sweep or async fold in flight) instead of folding the same
    partitions concurrently; the next write after release folds."""
    from kudu_spark.meta import read_log

    t = engine.create_table("im", SIMPLE, pk=["key"])
    ddl = "key int, int_val int, string_val string"
    t.insert(spark.createDataFrame([(k, k, "x") for k in range(500)], ddl))
    engine.alter_table("im").set_property("auto_compact_min_delta_bytes", 1) \
        .set_property("auto_compact_min_ratio", 0.0001).apply()
    assert t._maint_lock.acquire(blocking=False)
    try:
        t.upsert(spark.createDataFrame([(k, k + 1, "y") for k in range(400)], ddl))
        ops = [c["op"] for c in read_log(t.root)]
        assert "compact" not in ops, "inline fold ran under a held mutex"
    finally:
        t._maint_lock.release()
    t.upsert(spark.createDataFrame([(1, 7, "z")], ddl))
    assert [c["op"] for c in read_log(t.root)][-1] == "compact"
    got = {r.key: r.int_val for r in t.scan().collect()}
    assert len(got) == 500 and got[1] == 7 and got[3] == 4


def test_async_maintenance_drains_in_background(engine, spark):
    """auto_compact_mode='async': the write returns with only its own
    commit; the fold lands from the maintenance thread."""
    from kudu_spark.meta import read_log

    t = engine.create_table("am", SIMPLE, pk=["key"])
    ddl = "key int, int_val int, string_val string"
    t.insert(spark.createDataFrame([(k, k, "x") for k in range(500)], ddl))
    engine.alter_table("am").set_property("auto_compact_mode", "async") \
        .set_property("auto_compact_min_delta_bytes", 1) \
        .set_property("auto_compact_min_ratio", 0.0001).apply()
    v = t.upsert(spark.createDataFrame([(k, k + 1, "y") for k in range(400)], ddl))
    # the mutation's own commit is the upsert, not a compaction
    assert [c["op"] for c in read_log(t.root) if c["version"] == v] == ["upsert"]
    if t._maint_thread is not None:
        t._maint_thread.join(timeout=120)
    ops = [c["op"] for c in read_log(t.root)]
    assert "compact" in ops, "async maintenance never landed"
    got = {r.key: r.int_val for r in t.scan().collect()}
    assert len(got) == 500 and got[3] == 4


def test_recover_contains_per_marker_completion_failures(engine, spark):
    """One marker whose staged files were corrupted (completion path
    fails mid-commit) must not abort the recovery sweep: the healthy
    marker still completes, the broken one aborts cleanly on the same
    pass (its files probe as lost), and nothing raises."""
    import json
    import os
    import uuid

    ddl = "key int, int_val int, string_val string"
    engine.create_table("ga", SIMPLE, pk=["key"])
    engine.create_table("gb", SIMPLE, pk=["key"])

    def make_marker(txn, txn_id):
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

    # marker 1: staged files deleted -> completion impossible -> abort
    t1 = engine.transaction()
    t1.insert("ga", spark.createDataFrame([(1, 1, "x")], ddl))
    id1 = "0" + uuid.uuid4().hex[1:]
    make_marker(t1, id1)
    for _, es in t1._parts["ga"]._staged:
        for e in es:
            os.unlink(os.path.join(t1._parts["ga"].table.root, e.path))
    # marker 2: healthy, unpublished -> must complete despite marker 1
    t2 = engine.transaction()
    t2.insert("gb", spark.createDataFrame([(2, 2, "y")], ddl))
    id2 = "z" + uuid.uuid4().hex[1:]  # sorts after marker 1
    make_marker(t2, id2)

    done = engine.recover_transactions()
    assert set(done) == {id1, id2}  # both resolved: one aborted, one completed
    assert engine.table("ga").scan().count() == 0
    assert {r.key for r in engine.table("gb").scan().collect()} == {2}


def test_maintenance_lock_shared_across_handles(engine, spark):
    """The async-maintenance mutex is per TABLE (process-wide, keyed
    by root), not per handle — Engine.table() hands out fresh handles
    per call, and each must share the same lock."""
    engine.create_table("ml", SIMPLE, pk=["key"])
    h1 = engine.table("ml")
    h2 = engine.table("ml")
    assert h1 is not h2
    assert h1._maint_lock is h2._maint_lock

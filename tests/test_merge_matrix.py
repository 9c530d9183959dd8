"""Differential test of the merge-on-read state matrix against a dict
model: delete-only, one live commit, a live commit then a newer
delete, and base files newer than the deltas (reinsert after delete,
fresh inserts into a dirty partition), read at every version by time
travel, with and without ``include_deleted``, under a broadcast and a
shuffled delta-key join."""

from __future__ import annotations

import pytest

import kudu_spark.table as tbl
from kudu_spark.engine import Engine

SCHEMA = [("tenant", "int", False), ("id", "bigint", False),
          ("v", "int", True), ("s", "string", True)]
DDL = "tenant int, id bigint, v int, s string"
KEY_DDL = "tenant int, id bigint"


def _apply(spark, t, model, op, keys, tag=None):
    """Run one mutation on the table and on the dict model; returns the
    model's new (live rows, ghost keys) pair."""
    live, ghosts = model
    live, ghosts = dict(live), set(ghosts)
    if op == "delete":
        t.delete(spark.createDataFrame(sorted(keys), KEY_DDL))
        for k in keys:
            del live[k]
        ghosts |= set(keys)
    else:
        batch = [(a, b, a * 1000 + b, tag) for a, b in sorted(keys)]
        getattr(t, op)(spark.createDataFrame(batch, DDL))
        for a, b, v, s in batch:
            live[(a, b)] = (v, s)
        ghosts -= set(keys)
    return live, ghosts


def _keys(ids, tenants=range(4)):
    return {(a, b) for a in tenants for b in ids}


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """One table, composite PK, 4 hash buckets, no inline folds. The
    walk: clean insert -> delete only -> full compaction (clean again)
    -> one live commit -> a newer delete -> reinserts + fresh keys
    (base files newer than the deltas) -> an upsert over live, deleted
    and reinserted keys (deltas newer than those base files). Returns
    the table and (version, live rows, ghost keys) per version."""
    eng = Engine(spark, str(tmp_path_factory.mktemp("mm") / "wh"))
    t = eng.create_table(
        "mm", SCHEMA, pk=["tenant", "id"],
        hash_partitions=[{"columns": ["tenant", "id"], "buckets": 4}],
    )
    eng.alter_table("mm").set_property("auto_compact", "false").apply()
    t = eng.table("mm")
    ops = [
        ("insert", _keys(range(50)), "b"),
        ("delete", _keys(range(1, 50, 9), tenants=[0, 2]), None),
        ("compact", None, None),
        ("upsert", _keys(range(0, 50, 5)) | _keys(range(100, 103)), "u1"),
        ("delete", _keys(range(0, 50, 7)) - _keys([1, 10, 19, 28, 37, 46], tenants=[0, 2]), None),
        ("insert", _keys(range(0, 50, 14)) | _keys(range(200, 205)), "r"),
        ("upsert", _keys(range(0, 50, 3)), "u2"),
    ]
    model = ({}, set())
    versions = []
    for op, keys, tag in ops:
        if op == "compact":
            t.compact(full=True)
            # folding drops the tombstones: no ghosts survive
            model = (model[0], set())
        else:
            model = _apply(spark, t, model, op, keys, tag)
        versions.append((t.version,) + model)
        if op == "delete" and len(versions) == 2:
            assert {f.dmark for f in t.state().files if f.kind == "delta"} == {"D"}
    # the walk reached every state of the matrix
    files = t.state().files
    deltas = [f for f in files if f.kind == "delta"]
    assert {f.dmark for f in deltas} >= {"L", "D"}
    assert any(f.kind == "base" and f.seq > min(d.seq for d in deltas) for f in files)
    return t, versions


def _rows(df):
    return {(r.tenant, r.id): (r.v, r.s) for r in df.collect()}


@pytest.mark.parametrize("threshold", [None, "-1"], ids=["broadcast", "shuffled"])
def test_merge_states_match_dict_model(spark, history, threshold):
    t, versions = history
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    if threshold is not None:
        spark.conf.set(conf, threshold)
    probes = [(2, 14), (3, 21), (1, 202), (0, 10), (2, 28)]
    try:
        for i, (v, live, ghosts) in enumerate(versions):
            if threshold is not None and not any(
                    f.kind == "delta" for f in t.state(v).files):
                continue  # a clean version plans no delta-key join
            # evict first: the first scan of each version runs the
            # streaming plan, the second (same dirty file set) reads
            # the persisted frame
            tbl._evict_key_frames(t.root)
            assert _rows(t.scan(version=v)) == live, v
            want = {k: r for k, r in live.items() if r[0] % 2 == 0}
            assert _rows(t.scan(version=v, filters=[("v", "<", 10 ** 6)])
                         .where("v % 2 = 0")) == want, v
            got = t.scan(version=v, include_deleted=True).collect()
            assert {(r.tenant, r.id): (r.v, r.s) for r in got
                    if not r._is_deleted} == live, v
            assert {(r.tenant, r.id) for r in got if r._is_deleted} == ghosts, v
            # a point lookup prunes to one bucket and its PK-overlapping
            # files: delta-only and mixed dirty file sets
            a, b = probes[i % len(probes)]
            df = t.scan(version=v, filters=[("tenant", "=", a), ("id", "=", b)])
            assert _rows(df) == ({(a, b): live[(a, b)]} if (a, b) in live else {}), (v, a, b)
        if threshold == "-1":
            tbl._evict_key_frames(t.root)
            plan = t.scan()._jdf.queryExecution().executedPlan().toString()
            assert "LeftAnti" in plan and "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set(conf, old)

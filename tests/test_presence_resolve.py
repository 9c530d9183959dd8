"""How live presence sidecars answer the table's questions, on hand-built
sidecar metas and manifests — no Spark session. presence.resolve is the
probe plan behind present_key_probe / present_key_check and the
``presence_exact`` statistic; presence.merge_window is the sidecar pick
of merge_presence_sidecars.

Every expected answer below is what the engine answered before these
rules moved into plans/presence.py: the probe's decline reason, its
sidecar families and its exactness, and the merge's window. The one
exception is ``probe_cols`` on the two answers that probe nothing (an
empty table, sidecars without live keys), where the old probe returned
no tuple at all."""

import json
import os

import pytest

from kudu_spark.meta import ColumnSpec, FileEntry, Schema
from kudu_spark.plans import presence

SCHEMA = Schema(columns=[ColumnSpec(1, "k", "bigint", False),
                         ColumnSpec(2, "v", "string"),
                         ColumnSpec(3, "w", "int")], pk=["k"])
SCHEMA_KV = Schema(columns=[ColumnSpec(1, "k", "bigint", False),
                            ColumnSpec(2, "v", "string", False)], pk=["k", "v"])


@pytest.fixture(autouse=True)
def _fresh_meta_cache():
    presence._META_CACHE.clear()
    yield
    presence._META_CACHE.clear()


def sidecar(root, name, cols=("k",), types=("bigint",), seq=1, rows=4,
            nshards=1, nbytes=32, **extra):
    """Write ``data/<name>.pidx/meta.json`` (no shard files: nothing
    here reads them) and return the sidecar's relative path."""
    rel = os.path.join("data", f"{name}.pidx")
    os.makedirs(os.path.join(root, rel), exist_ok=True)
    meta = {"version": 2, "cols": list(cols), "types": list(types), "seq": seq,
            "nshards": nshards, "rows": rows, "bytes": nbytes, **extra}
    if seq is None:
        del meta["seq"]
    with open(os.path.join(root, rel, presence.META_NAME), "w") as f:
        json.dump(meta, f)
    return rel


def fe(n, bloom, kind="base", nbytes=100):
    return FileEntry(path=f"data/f{n}.parquet", rows=1, bytes=nbytes,
                     partition={"hash": [n % 2], "range": None}, seq=1,
                     schema_version=1, kind=kind, bloom=bloom)


def d(root, rel):
    return os.path.join(root, rel)


# -- resolve: declines ---------------------------------------------------------


def test_decline_files_without_sidecars(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a")
    assert presence.resolve(root, [fe(0, a), fe(1, None)], SCHEMA, ["k"]) \
        == "files without sidecars"


def test_decline_sidecar_cap(tmp_path, monkeypatch):
    root = str(tmp_path)
    files = [fe(i, sidecar(root, f"s{i}", seq=i + 1)) for i in range(3)]
    assert presence.resolve(root, files, SCHEMA, ["k"])[2] is True
    monkeypatch.setattr(presence, "MAX_SIDECARS", 2)
    assert presence.resolve(root, files, SCHEMA, ["k"]) == "3 sidecars exceed cap"


def test_decline_legacy_sidecar_format(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a")
    assert presence.resolve(root, [fe(0, a), fe(1, "data/old.bloom")], SCHEMA,
                            ["k"]) == "legacy sidecar format: data/old.bloom"


def test_decline_unreadable_meta(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a")
    os.makedirs(os.path.join(root, "data", "b.pidx"))
    assert presence.resolve(root, [fe(0, a), fe(1, "data/b.pidx")], SCHEMA,
                            ["k"]) == "unreadable sidecar meta: data/b.pidx"


def test_decline_different_tuples(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a")
    b = sidecar(root, "b", cols=("k", "v"), types=("bigint", "string"), seq=2)
    assert presence.resolve(root, [fe(0, a), fe(1, b)], SCHEMA, ["k"]) \
        == "sidecars hash different column tuples"
    # same names, different declared types: also a different tuple
    c = sidecar(root, "c", types=("int",), seq=3)
    assert presence.resolve(root, [fe(0, a), fe(1, c)], SCHEMA, ["k"]) \
        == "sidecars hash different column tuples"


def test_decline_legacy_tombstone_marker(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a", tombstones=True)
    assert presence.resolve(root, [fe(0, a)], SCHEMA, ["k"]) \
        == "legacy tombstone marker data/a.pidx: compact to rebuild"


def test_decline_dropped_column(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a", cols=("k", "gone"), types=("bigint", "string"))
    assert presence.resolve(root, [fe(0, a)], SCHEMA, ["k", "gone"]) \
        == "sidecar column dropped from schema"


def test_decline_type_drift(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a", types=("int",))
    assert presence.resolve(root, [fe(0, a)], SCHEMA, ["k"]) \
        == "sidecar column types drifted"


def test_decline_tuple_does_not_serve_cols(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a")
    assert presence.resolve(root, [fe(0, a)], SCHEMA, ["v"]) \
        == "sidecar tuple ['k'] does not serve cols ['v']"
    # a longer probe tuple is a prefix probe: declined without prefix_ok
    assert presence.resolve(root, [fe(0, a)], SCHEMA, ["k", "v"]) \
        == "sidecar tuple ['k'] does not serve cols ['k', 'v']"


# -- resolve: specs and exactness ----------------------------------------------


def test_empty_table_is_exact_and_empty(tmp_path):
    assert presence.resolve(str(tmp_path), [], SCHEMA, ["k"]) == ([], ["k"], True)


def test_live_and_delete_families(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a", seq=5, nshards=2)
    b = sidecar(root, "b", seq=9, rows=0, del_rows=3, del_nshards=1)
    c = sidecar(root, "c", seq=7)
    specs, cols, exact = presence.resolve(
        root, [fe(0, a), fe(1, b, "delta"), fe(2, c), fe(3, a)], SCHEMA, ["k"])
    # sidecars in path order; probe_hashes orders them newest-first
    assert specs == [(d(root, a), 2, 5, True), (d(root, b), 1, 9, False),
                     (d(root, c), 1, 7, True)]
    assert cols == ["k"] and exact is True


def test_mixed_commit_is_superset(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a", seq=3, del_rows=1, del_nshards=1, mixed=True)
    assert presence.resolve(root, [fe(0, a, "delta")], SCHEMA, ["k"]) == (
        [(d(root, a), 1, 3, True), (d(root, a), 1, 3, False)], ["k"], False)


def test_unindexed_deletes_are_superset(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a", seq=2)
    b = sidecar(root, "b", seq=4, rows=0, del_rows=2, del_unindexed=True)
    assert presence.resolve(root, [fe(0, a), fe(1, b, "delta")], SCHEMA, ["k"]) \
        == ([(d(root, a), 1, 2, True)], ["k"], False)


def test_seqless_sidecars_drop_delete_families(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a", seq=None)
    b = sidecar(root, "b", seq=4, rows=1, del_rows=2, del_nshards=1)
    assert presence.resolve(root, [fe(0, a), fe(1, b, "delta")], SCHEMA, ["k"]) \
        == ([(d(root, a), 1, 0, True), (d(root, b), 1, 4, True)], ["k"], False)
    # without a delete family a seq-less sidecar stays exact
    assert presence.resolve(root, [fe(0, a)], SCHEMA, ["k"]) \
        == ([(d(root, a), 1, 0, True)], ["k"], True)


def test_mutated_non_pk_tuple_is_superset(tmp_path):
    root = str(tmp_path)
    kv = dict(cols=("k", "v"), types=("bigint", "string"))
    a = sidecar(root, "a", seq=1, **kv)
    b = sidecar(root, "b", seq=2, **kv)
    assert presence.resolve(root, [fe(0, a), fe(1, b)], SCHEMA, ["k", "v"]) \
        == ([(d(root, a), 1, 1, True), (d(root, b), 1, 2, True)], ["k", "v"], True)
    # a delta commit can retire a (k, v) value an older sidecar lists
    assert presence.resolve(root, [fe(0, a), fe(1, b, "delta")], SCHEMA,
                            ["k", "v"])[2] is False


def test_prefix_probe(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a", seq=3)
    assert presence.resolve(root, [fe(0, a)], SCHEMA_KV, ["k", "v"], prefix_ok=True) \
        == ([(d(root, a), 1, 3, True)], ["k"], False)
    assert presence.resolve(root, [fe(0, a)], SCHEMA_KV, ["k", "v"]) \
        == "sidecar tuple ['k'] does not serve cols ['k', 'v']"
    # an exact-tuple probe over a PK-prefix sidecar stays exact
    assert presence.resolve(root, [fe(0, a)], SCHEMA_KV, ["k"])[2] is True


def test_no_live_keys_answers_empty_before_tuple_checks(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a", types=("int",), rows=0, del_rows=2, del_unindexed=True)
    # nothing is live, so nothing is present, whatever the tuple; the
    # unindexed deletes still make the answer a superset
    assert presence.resolve(root, [fe(0, a, "delta")], SCHEMA, ["v"]) \
        == ([], ["k"], False)


def test_summary_exact_is_the_resolver_verdict(tmp_path):
    root = str(tmp_path)
    a = sidecar(root, "a", nbytes=40)
    b = sidecar(root, "b", seq=2, nbytes=24)
    s = presence.summary(root, [fe(0, a), fe(1, b)], SCHEMA)
    assert s == {"presence_sidecars": 2, "presence_bytes": 64,
                 "presence_coverage": 1.0, "presence_exact": True}
    c = sidecar(root, "c", cols=("k", "v"), types=("bigint", "string"), seq=3)
    s = presence.summary(root, [fe(0, a), fe(1, b), fe(2, c), fe(3, None)], SCHEMA)
    assert s["presence_sidecars"] == 3 and s["presence_bytes"] == 96
    assert s["presence_coverage"] == 0.75 and s["presence_exact"] is False


# -- merge_window ----------------------------------------------------------------


def chain(root, sizes, **per_seq):
    """One sidecar per size, seqs 1..n in order; ``per_seq`` maps a seq
    to extra meta fields for that sidecar."""
    return [fe(i, sidecar(root, f"c{i + 1:02d}", seq=i + 1, nbytes=b,
                          **per_seq.get(f"s{i + 1}", {})))
            for i, b in enumerate(sizes)]


def window(root, files, max_live):
    got = presence.merge_window(root, files, max_live)
    if got is None:
        return None
    rels, drop = got
    return [os.path.basename(r)[:-len(".pidx")] for r in rels], drop


def test_merge_window_below_cap_and_incomplete_coverage(tmp_path):
    root = str(tmp_path)
    files = chain(root, [10, 10, 10])
    assert window(root, files, 3) is None
    assert window(root, files + [fe(9, None)], 2) is None
    assert window(root, files + [fe(9, "data/old.bloom")], 2) is None
    os.makedirs(os.path.join(root, "data", "bad.pidx"))
    assert window(root, files + [fe(9, "data/bad.pidx")], 2) is None


def test_merge_window_size_tiered(tmp_path):
    root = str(tmp_path)
    files = chain(root, [1, 1, 1000, 2000, 1, 1])
    # 6 live, cap 4: fold at least 3. The longest window wins (it
    # restores the cap soonest): c02..c04 extends over c05 and c06,
    # each no bigger than what it already folds; it does not cover the
    # oldest sidecar, so the merged delete family is kept
    assert window(root, files, 4) == (["c02", "c03", "c04", "c05", "c06"], False)
    # cap 5: fold at least 2. c03+c04 extends to c06; c01+c02 stops at
    # c03 (1000 > 2)
    assert window(root, files, 5) == (["c03", "c04", "c05", "c06"], False)
    # equal length: the cheaper window wins
    files = chain(str(tmp_path / "b"), [1, 1, 1000, 3000])
    assert window(str(tmp_path / "b"), files, 3) == (["c01", "c02"], True)


def test_merge_window_extends_and_drops_deletes_from_oldest(tmp_path):
    root = str(tmp_path)
    files = chain(root, [4, 4, 8, 16, 64])
    # cap 4: the cheapest pair c01+c02 (8) extends over c03 (8 <= 8)
    # and c04 (16 <= 16) but not c05; it covers the oldest sidecar
    assert window(root, files, 4) == (["c01", "c02", "c03", "c04"], True)


def test_merge_window_stays_contiguous(tmp_path):
    root = str(tmp_path)
    # c03 carries unindexed deletes and c05 has no seq-ordered replay
    # (unmergeable): windows never span them
    files = chain(root, [30, 30, 1, 1, 1, 30, 30],
                  s3={"del_unindexed": True, "del_rows": 1},
                  s5={"tombstones": True})
    # runs: [c01, c02], [c04], [c06, c07]; need 2 of 7 with cap 6
    assert window(root, files, 6) == (["c01", "c02"], True)
    assert window(root, files, 5) == (["c01", "c02"], True)
    # without c01/c02 the only run left to merge is c06, c07
    assert window(root, files[2:], 4) == (["c06", "c07"], False)
    # nothing contiguous at all: no window
    other = str(tmp_path / "x")
    assert window(other, chain(other, [1, 1, 1], s2={"del_unindexed": True}),
                  1) is None


def test_merge_window_seqless_sidecars_split_runs(tmp_path):
    root = str(tmp_path)
    files = [fe(0, sidecar(root, "c01", seq=None, nbytes=1)),
             fe(1, sidecar(root, "c02", seq=2, nbytes=5)),
             fe(2, sidecar(root, "c03", seq=3, nbytes=5))]
    # the seq-less sidecar sorts first (seq -1) and breaks the run, so
    # the window c02..c03 does not cover the oldest sidecar
    assert window(root, files, 2) == (["c02", "c03"], False)

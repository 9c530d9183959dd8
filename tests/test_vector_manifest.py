"""How the vector module reads the manifest, on hand-built FileEntry
lists and a hand-written centroid artifact — no Spark session. The
stamp predicate and staleness decide which files hold current stored
sidecolumns; vector.route is the per-file hybrid plan behind
scan_quantized, scan_cells, quantized ANN serving and the ingest
semantic dedup; vector.converge is the budgeted convergence step.

Every expected answer below is what the engine answered before this
code moved into kudu_spark/vector.py: the stamps, the staleness, the
files left after ``cellr`` pruning, the schema extras, which
sidecolumns each file derives and the convergence picks. The one
exception is the merged-dirty cache tag, whose value is new (one tag
shape for every derivation where there were three); like the old tags
it is None exactly when nothing is derived."""

import json
import os
from types import SimpleNamespace

import pytest

from kudu_spark import fs, vector
from kudu_spark.meta import ColumnSpec, FileEntry, PartitionSpec, Schema, TableState

SCHEMA = Schema(columns=[ColumnSpec(1, "k", "bigint", False),
                         ColumnSpec(2, "v", "array<float>")], pk=["k"])
CELL, Q8, Q8S = vector.IVFC_PREFIX, vector.Q8_PREFIX, vector.Q8S_PREFIX
BOTH = {"vector_cell_cols": "v", "vector_quantize_cols": "v"}


def fe(n, bucket, rows, nbytes, kind="base", ivfm=None, vq=None, cellr=None):
    return FileEntry(path=f"data/f{n}.parquet", rows=rows, bytes=nbytes,
                     partition={"hash": [bucket], "range": None}, seq=1,
                     schema_version=1, kind=kind, ivfm=ivfm, vq=vq, cellr=cellr)


# the current cell model of column v is "m2"
FILES = [
    fe(0, 0, 10, 100, ivfm={"v": "m2"}, vq=["v"], cellr={"v": [0, 1]}),
    fe(1, 0, 20, 200, ivfm={"v": "m2"}, vq=["v"], cellr={"v": [2, 3]}),
    fe(2, 1, 30, 300, ivfm={"v": "m1"}, cellr={"v": [2, 3]}),  # superseded model
    fe(3, 1, 40, 400, vq=["v"]),                                # predates training
    fe(4, 0, 5, 50, kind="delta", ivfm={"v": "m2"}, vq=["v"], cellr={"v": [3, 3]}),
    fe(5, 2, 15, 150, ivfm={"v": "m2", "w": "m9"}, vq=["w"], cellr={"v": [1, 1]}),
    fe(6, 2, 25, 250, ivfm={"w": "m2"}, cellr={"v": [0, 0]}),   # another column's stamp
    fe(7, 3, 100, 1000, ivfm={"v": "m2"}, vq=["v"], cellr={"v": [0, 3]}),
    fe(8, 3, 10, 100, ivfm={"v": "m1"}, vq=["v"], cellr={"v": [0, 3]}),
]
CURRENT = [FILES[0], FILES[1], FILES[4], FILES[7]]


class Handle:
    """What the vector module uses of a Table: state, root, storage,
    and the two Spark steps, recorded instead of run."""

    def __init__(self, root, files, props=BOTH):
        self.root, self._env = root, fs.env_for_root(root)
        self._st = TableState("t", root, 7, SCHEMA, {1: SCHEMA}, PartitionSpec(),
                              list(files), dict(props))
        self.reads, self.compacted = [], []

    def state(self, version=None):
        return self._st

    def _snapshot_df(self, st, filters=None, per_file=None, per_file_tag=None):
        self.reads.append((st, per_file, per_file_tag))
        return Frame()

    def compact(self, partitions=None, **kwargs):
        self.compacted.append(sorted(tuple(p[0])[0] for p in partitions))


class Column:
    def isin(self, values):
        return self


class Frame:
    """Stands in for a DataFrame: records the columns a derivation adds."""

    def __init__(self):
        self.added = []

    def withColumn(self, name, expr):
        self.added.append(name)
        return self

    def where(self, cond):
        return self

    def select(self, *cols):
        return self


@pytest.fixture
def root(tmp_path, monkeypatch):
    with open(tmp_path / "_ivf_v.json", "w") as f:
        json.dump({"n_cells": 4, "n_iters": 2, "model_id": "m2", "sample_mod": None,
                   "trained_version": 5, "centroids": [[1.0, 0.0]] * 4}, f)
    # derivations and the cell filter are Spark expressions; stand-ins
    # keep the plan inspectable without a session
    monkeypatch.setattr(vector, "_deriver", lambda column, art: (lambda side: side))
    monkeypatch.setattr(vector, "F", SimpleNamespace(col=lambda name: Column()))
    return str(tmp_path)


def plan(t):
    """(files read, schema extras, {file: derived columns} or None, tag)
    of the handle's last snapshot."""
    st, per_file, tag = t.reads[-1]
    derived = None
    if per_file is not None:
        derived = {}
        for f in st.files:
            group, xf = per_file(f)
            frame = Frame()
            if xf is not None:
                xf(frame)
            assert (group == "stored") == (xf is None)
            derived[name(f)] = frame.added
    return ([name(f) for f in st.files], [(c.name, c.type) for c in st.schema.columns[2:]],
            derived, tag)


def name(f):
    return os.path.basename(f.path).split(".")[0]


# -- stamps and staleness --------------------------------------------------------------


def test_stamp_predicate():
    want = {"f0": (True, True), "f1": (True, True), "f2": (False, False),
            "f3": (False, True), "f4": (True, True), "f5": (True, False),
            "f6": (False, False), "f7": (True, True), "f8": (False, True)}
    got = {name(f): (vector.current(f, CELL, "v", "m2"), vector.current(f, Q8, "v"))
           for f in FILES}
    assert got == want
    # the scale column rides the q8 stamp
    assert [vector.current(f, Q8S, "v") for f in FILES] == [w[1] for w in want.values()]


def test_staleness_counts_rows_of_stale_cell_stamps(root):
    t = Handle(root, FILES)
    # f2, f3, f6 and f8: 105 of 255 rows
    assert vector.staleness(t, "v") == 105 / 255
    assert vector.staleness(t, "v", Handle(root, CURRENT).state()) == 0.0
    assert vector.staleness(t, "w") == 0.0  # no artifact for w
    assert vector.staleness(Handle(root, []), "v") == 0.0


# -- cellr pruning and the hybrid router ------------------------------------------------


@pytest.mark.parametrize("cells, kept", [
    ([0], ["f0", "f2", "f3", "f4", "f6", "f7", "f8"]),
    ([3], ["f1", "f2", "f3", "f4", "f6", "f7", "f8"]),
    ([1, 2], [f"f{i}" for i in range(9)]),
])
def test_cellr_prunes_only_current_base_files(root, cells, kept):
    # f2 and f6 carry cellr from another cell space and f4 is a delta:
    # all three survive whatever the probed cells
    t = Handle(root, FILES)
    vector.scan_cells(t, "v", cells)
    assert plan(t)[0] == kept
    t = Handle(root, FILES)
    vector.snapshot(t, t.state(), "v", (CELL, Q8), vector.artifact(t, "v"), cells)
    assert plan(t)[0] == kept


def test_router_cell_scan(root):
    t = Handle(root, FILES)
    vector.scan_cells(t, "v", [0])
    files, extras, derived, tag = plan(t)
    assert extras == [("__ivfc_v", "int")]
    assert {f: d for f, d in derived.items() if d} == {
        "f2": ["__ivfc_v"], "f3": ["__ivfc_v"], "f6": ["__ivfc_v"], "f8": ["__ivfc_v"]}
    assert tag == ("vector", "v", "m2", (CELL,))


def test_router_quantized_scan(root):
    t = Handle(root, FILES)
    vector.scan_quantized(t, "v")
    files, extras, derived, tag = plan(t)
    assert files == [f"f{i}" for i in range(9)]  # no cells, no pruning
    assert extras == [("__q8_v", "array<tinyint>"), ("__q8s_v", "float")]
    assert {f: d for f, d in derived.items() if d} == {
        "f2": ["__q8_v", "__q8s_v"], "f5": ["__q8_v", "__q8s_v"], "f6": ["__q8_v", "__q8s_v"]}
    assert tag == ("vector", "v", None, (Q8, Q8S))


def test_router_cells_and_codes(root):
    # the quantized ANN serve and the ingest dedup: each file derives
    # exactly the sidecolumns its stamps do not cover
    t = Handle(root, FILES)
    vector.snapshot(t, t.state(), "v", (CELL, Q8), vector.artifact(t, "v"), [1, 2])
    files, extras, derived, tag = plan(t)
    assert extras == [("__ivfc_v", "int"), ("__q8_v", "array<tinyint>")]
    assert {f: d for f, d in derived.items() if d} == {
        "f2": ["__ivfc_v", "__q8_v"], "f3": ["__ivfc_v"], "f5": ["__q8_v"],
        "f6": ["__ivfc_v", "__q8_v"], "f8": ["__ivfc_v"]}
    assert tag == ("vector", "v", "m2", (CELL, Q8))


def test_router_reads_stored_columns_when_every_file_is_current(root):
    t = Handle(root, CURRENT)
    vector.scan_cells(t, "v", [0])
    assert plan(t) == (["f0", "f4", "f7"], [("__ivfc_v", "int")], None, None)
    vector.scan_quantized(t, "v")
    assert plan(t)[2:] == (None, None)
    vector.snapshot(t, t.state(), "v", (CELL, Q8), vector.artifact(t, "v"), [0])
    assert plan(t)[0] == ["f0", "f4", "f7"] and plan(t)[2:] == (None, None)


def test_cell_scans_need_a_trained_model(root, tmp_path_factory):
    with pytest.raises(Exception, match="no trained cell model"):
        vector.scan_cells(Handle(root, FILES, {}), "v", [0])
    untrained = Handle(str(tmp_path_factory.mktemp("untrained")), FILES)
    with pytest.raises(Exception, match="train_vector_cells first"):
        vector.scan_cells(untrained, "v", [0])
    with pytest.raises(Exception, match="vector_quantize_cols"):
        vector.scan_quantized(Handle(root, FILES, {"vector_cell_cols": "v"}), "v")


# -- convergence -------------------------------------------------------------------------


@pytest.mark.parametrize("props, one, every", [
    # stale bytes per rewrite byte: bucket 1 and bucket 2 1.0 (tie,
    # broken by partition key), bucket 3 0.09; bucket 0 is converged
    (BOTH, ([1], 700), ([1, 2, 3], 2200)),
    ({"vector_cell_cols": "v"}, ([1], 700), ([1, 2, 3], 2200)),
    # q8 stamps only: bucket 2 1.0, bucket 1 0.43
    ({"vector_quantize_cols": "v"}, ([2], 400), ([1, 2], 1100)),
])
def test_converge_ranking_under_a_one_byte_budget(root, monkeypatch, props, one, every):
    t = Handle(root, FILES, props)
    n_left = len(every[0]) - 1
    assert vector.converge(t, 1) == {
        "partitions": 1, "spent_bytes": one[1], "stale_partitions_left": n_left}
    assert t.compacted == [one[0]]
    t = Handle(root, FILES, props)
    assert vector.converge(t) == {
        "partitions": len(every[0]), "spent_bytes": every[1], "stale_partitions_left": 0}
    assert t.compacted == [every[0]]
    # the default budget is the module constant
    monkeypatch.setattr(vector, "CONVERGE_BUDGET_BYTES", 1)
    t = Handle(root, FILES, props)
    assert vector.converge(t)["spent_bytes"] == one[1] and t.compacted == [one[0]]


def test_converge_without_vector_columns_is_a_no_op(root):
    t = Handle(root, FILES, {})
    assert vector.converge(t, 1) == {
        "partitions": 0, "spent_bytes": 0, "stale_partitions_left": 0}
    assert t.compacted == []

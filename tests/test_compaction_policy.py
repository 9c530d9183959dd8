"""The compaction policy's picks on hand-built manifests — no Spark
session. One ranker (table.rank_partitions) serves explicit compaction
(compaction_plan / compact), auto-compaction (_auto_compact_once) and
IVF cell convergence (converge_vector_cells); these tests pin what
each of the three picks.

Every expected pick below matches what the policy picked before the
three walks were merged into rank_partitions, except the three cases
marked CHANGED, which say what the old walk picked instead."""

from kudu_spark import vector
from kudu_spark.meta import FileEntry, TableState
from kudu_spark.table import Table

MiB = 1 << 20


def fe(bucket: int, size: float, kind: str = "base", ivfm: dict | None = None):
    return FileEntry(path=f"data/{bucket}-{kind}-{size}.parquet", rows=1,
                     bytes=int(size * MiB), partition={"hash": [bucket], "range": None},
                     seq=1, schema_version=1, kind=kind, ivfm=ivfm)


def key(bucket: int):
    return ((bucket,), None)


class PolicyTable(Table):
    """A Table over a hand-built manifest whose rewrites are recorded,
    not run: exercises the policy without a Spark session."""

    def __init__(self, files, props=None):
        self.name = "policy"
        self._st = TableState("policy", "unused", 1, None, {}, None,
                              files, dict(props or {}))
        self.compacted = []

    def state(self, *args, **kwargs):
        return self._st

    def compact(self, io_budget_bytes=None, partitions=None, **kwargs):
        self.compacted.append(sorted((tuple(p[0]), p[1]) for p in partitions))
        return 2

    def merge_presence_sidecars(self, *args, **kwargs):
        return None


def auto_picks(files, props=None, commit_delta_bytes=0):
    t = PolicyTable(files, props)
    t._auto_compact_once(commit_delta_bytes=commit_delta_bytes)
    return t.compacted


def test_auto_ratio_gate():
    # bucket 0: 10% delta, bucket 1: 2% delta (default gate 5%)
    files = [fe(0, 9), fe(0, 1, "delta"), fe(1, 49), fe(1, 1, "delta")]
    assert auto_picks(files) == [[key(0)]]
    assert auto_picks(files, {"auto_compact_min_ratio": "0.01"}) == [[key(0), key(1)]]


def test_auto_delta_floor_counts_gated_partitions_only():
    # bucket 0 passes the gate with 100 KiB of delta; bucket 1 holds
    # 2 MiB of delta but fails the gate: the 1 MiB floor sees 100 KiB
    files = [fe(0, 0.9), fe(0, 0.1, "delta"), fe(1, 98), fe(1, 2, "delta")]
    assert auto_picks(files) == []
    assert auto_picks(files, {"auto_compact_min_delta_bytes": "0"}) == [[key(0)]]


def test_auto_write_proportional_budget_overrides_fixed_budget():
    # three gated 10 MiB partitions at 20%, 10% and 7.5% delta
    files = [fe(0, 8), fe(0, 2, "delta"), fe(1, 9), fe(1, 1, "delta"),
             fe(2, 9.25), fe(2, 0.75, "delta")]
    props = {"auto_compact_budget_bytes": "1"}
    # no write bytes: the 1-byte budget binds, at least one is taken
    assert auto_picks(files, props) == [[key(0)]]
    # 16 x 1.25 MiB = 20 MiB of budget: the two best partitions
    assert auto_picks(files, props, commit_delta_bytes=int(1.25 * MiB)) == [[key(0), key(1)]]
    assert auto_picks(files, props, commit_delta_bytes=int(1.875 * MiB)) == [
        [key(0), key(1), key(2)]]


def test_at_least_one_partition_under_a_tiny_budget():
    files = [fe(0, 40), fe(0, 10, "delta"), fe(1, 45), fe(1, 5, "delta")]
    plan = PolicyTable(files).compaction_plan(io_budget_bytes=1)
    assert [c["partition"] for c in plan] == [key(0)]
    assert plan[0]["cost_bytes"] == 50 * MiB and plan[0]["delta_bytes"] == 10 * MiB
    assert auto_picks(files, {"auto_compact_budget_bytes": "1"}) == [[key(0)]]


def test_ties_break_by_partition_key():
    # equal benefit per byte, manifest lists bucket 1 first
    files = [fe(1, 9), fe(1, 1, "delta"), fe(0, 9), fe(0, 1, "delta")]
    plan = PolicyTable(files).compaction_plan(io_budget_bytes=1)
    assert [c["partition"] for c in plan] == [key(0)]
    # CHANGED: the auto walk broke ties by manifest order and picked
    # bucket 1; it now breaks them by partition key like the plan
    assert auto_picks(files, {"auto_compact_budget_bytes": "1"}) == [[key(0)]]


def test_small_file_packing_auto_at_8_explicit_at_4():
    files = ([fe(0, 1) for _ in range(5)] + [fe(1, 1) for _ in range(8)]
             + [fe(2, 64)])
    plan = PolicyTable(files).compaction_plan()
    assert [(c["partition"], c["n_small_files"]) for c in plan] == [(key(0), 5), (key(1), 8)]
    assert auto_picks(files) == []  # packing is opt-in
    assert auto_picks(files, {"auto_compact_small_files": "true"}) == [[key(1)]]


def test_packing_competes_with_folds_under_a_binding_budget():
    # bucket 0: 10% delta on a large base; bucket 1: 8 small files
    files = [fe(0, 90), fe(0, 10, "delta")] + [fe(1, 1) for _ in range(8)]
    props = {"auto_compact_small_files": "true",
             "auto_compact_budget_bytes": str(50 * MiB)}
    # CHANGED: the old walk ranked every fold before every pack and
    # picked bucket 0 (100 MiB); one ranking by benefit per byte now
    # prefers the 8 MiB pack (1.0) over the fold (4 x 10 / 100 = 0.4)
    assert auto_picks(files, props) == [[key(1)]]
    # unbinding budget: both, as before
    props["auto_compact_budget_bytes"] = str(256 * MiB)
    assert auto_picks(files, props) == [[key(0), key(1)]]


def test_explicit_budget_walk_stops_at_first_misfit():
    # benefit per byte: bucket 0 1.6 (10 MiB), bucket 1 0.4 (100 MiB),
    # bucket 2 ~0.1 (41 MiB)
    files = [fe(0, 8), fe(0, 2, "delta"), fe(1, 90), fe(1, 10, "delta"),
             fe(2, 40), fe(2, 1, "delta")]
    t = PolicyTable(files)
    assert [c["partition"] for c in t.compaction_plan()] == [key(0), key(1), key(2)]
    # CHANGED: the old explicit walk skipped bucket 1 and went on to
    # bucket 2 ([0, 2]); all walks now stop at the first misfit
    assert [c["partition"] for c in t.compaction_plan(io_budget_bytes=60 * MiB)] == [key(0)]


def test_converge_ranks_by_stale_bytes(monkeypatch):
    # one vector column whose current cell model is "m2"
    monkeypatch.setattr(vector, "artifact", lambda t, column: {"model_id": "m2"})
    props = {"vector_cell_cols": "v"}
    cur, old = {"v": "m2"}, {"v": "m1"}
    files = [fe(0, 2, ivfm=cur), fe(0, 8, ivfm=old),    # 80% stale
             fe(1, 8, ivfm=cur), fe(1, 2, ivfm=old),    # 20% stale
             fe(2, 10, ivfm=cur),                       # converged
             fe(3, 5, ivfm=old), fe(3, 5, ivfm=cur)]    # 50% stale
    t = PolicyTable(files, props)
    assert t.converge_vector_cells(io_budget_bytes=25 * MiB) == {
        "partitions": 2, "spent_bytes": 20 * MiB, "stale_partitions_left": 1}
    assert t.compacted == [[key(0), key(3)]]
    t = PolicyTable(files, props)
    assert t.converge_vector_cells(io_budget_bytes=1) == {
        "partitions": 1, "spent_bytes": 10 * MiB, "stale_partitions_left": 2}
    assert t.compacted == [[key(0)]]

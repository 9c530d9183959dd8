"""Table metadata: schema with column IDs, partition spec, and the
atomic JSON commit log.

This is the Spark-first replacement for Kudu's catalog + tablet
metadata + Raft-replicated WAL (SURVEY.md §3.3): immutable parquet
data files + an append-only log of JSON commits, where publishing a
commit file atomically (O_CREAT|O_EXCL) makes a new table version
visible. Snapshot = replay of commits 1..V, which yields:

  - the live file manifest (adds minus removes) with per-file
    partition tuple, commit seq, and PK min/max stats
    (≈ Kudu's rowset metadata + interval tree, tablet/rowset_tree.h:49)
  - the current schema, versioned, with Iceberg-style column IDs for
    rename-safe evolution (≈ Kudu schema column IDs, common/schema.h:1233)
  - the partition spec: hash dimensions + range bounds
    (≈ PartitionSchema, common/partition.h:268-288)

MVCC snapshots (tablet/mvcc.h:45) collapse into "pick a commit
version"; READ_AT_SNAPSHOT = replay to that version.
"""

from __future__ import annotations

import json
import os
import time
from bisect import bisect_right
from dataclasses import dataclass, field

from kudu_spark.errors import ConcurrentCommitError, SchemaError
from kudu_spark.fs import canon_root, env_for_root

LOG_DIR = "_log"
DATA_DIR = "data"

# ---------------------------------------------------------------------------
# Schema
# ---------------------------------------------------------------------------


@dataclass
class ColumnSpec:
    """One column. ``type`` is a Spark SQL DDL type string ("bigint",
    "decimal(12,2)", "array<double>", ...). ``immutable`` mirrors
    common.proto:170; ``default`` is applied when old files miss the
    column (add-column evolution).

    ``encoding`` / ``compression`` / ``block_size`` carry Kudu's
    per-column storage attributes (ColumnSchemaPB,
    common.proto:134-170; cfile/type_encodings.cc) and map onto
    parquet writer options at write time (table._write_files):
    PLAIN_ENCODING disables the dictionary for the column; compression
    picks the codec; cfile_block_size bounds the parquet page size."""

    id: int
    name: str
    type: str
    nullable: bool = True
    immutable: bool = False
    default: object = None
    comment: str | None = None
    encoding: str | None = None  # AUTO/PLAIN/DICT/RLE/PREFIX/BIT_SHUFFLE (_ENCODING suffix ok)
    compression: str | None = None  # DEFAULT/NO/SNAPPY/LZ4/ZLIB (_COMPRESSION suffix ok)
    block_size: int | None = None  # cfile_block_size bytes

    def to_json(self) -> dict:
        d = {"id": self.id, "name": self.name, "type": self.type, "nullable": self.nullable}
        if self.immutable:
            d["immutable"] = True
        if self.default is not None:
            d["default"] = self.default
        if self.comment:
            d["comment"] = self.comment
        for k in ("encoding", "compression", "block_size"):
            if getattr(self, k) is not None:
                d[k] = getattr(self, k)
        return d

    @staticmethod
    def from_json(d: dict) -> "ColumnSpec":
        return ColumnSpec(
            id=d["id"],
            name=d["name"],
            type=d["type"],
            nullable=d.get("nullable", True),
            immutable=d.get("immutable", False),
            default=d.get("default"),
            comment=d.get("comment"),
            encoding=d.get("encoding"),
            compression=d.get("compression"),
            block_size=d.get("block_size"),
        )


@dataclass
class Schema:
    """Ordered columns (PK columns first, Kudu invariant:
    docs/known_issues.adoc:39-46) + PK name list + version counter."""

    columns: list[ColumnSpec]
    pk: list[str]
    version: int = 1
    next_col_id: int = 0

    def __post_init__(self):
        if self.next_col_id == 0:
            self.next_col_id = max((c.id for c in self.columns), default=0) + 1
        self.validate()

    def validate(self) -> None:
        names = [c.name for c in self.columns]
        if len(set(names)) != len(names):
            raise SchemaError(f"duplicate column names: {names}")
        if not self.pk:
            raise SchemaError("primary key required")
        for i, k in enumerate(self.pk):
            if i >= len(names) or names[i] != k:
                raise SchemaError(f"PK columns must be listed first in order, got {names[:len(self.pk)]} vs pk {self.pk}")
        for c in self.columns[: len(self.pk)]:
            if c.nullable:
                raise SchemaError(f"PK column {c.name} must be non-nullable")

    @property
    def names(self) -> list[str]:
        return [c.name for c in self.columns]

    @property
    def non_pk_names(self) -> list[str]:
        return [c.name for c in self.columns[len(self.pk):]]

    def col(self, name: str) -> ColumnSpec:
        for c in self.columns:
            if c.name == name:
                return c
        raise SchemaError(f"no such column: {name}")

    def ddl(self, include: list[str] | None = None) -> str:
        cols = self.columns if include is None else [self.col(n) for n in include]
        return ", ".join(
            f"`{c.name}` {c.type}" + ("" if c.nullable else " NOT NULL") for c in cols
        )

    def frame_ddl(self) -> str:
        """DDL usable for DataFrame schemas: Spark 4 forbids
        char/varchar in plan output, so those degrade to string (the
        declared length is still enforced by the write path)."""
        import re

        return re.sub(r"(?:var)?char\s*\(\s*\d+\s*\)", "string", self.ddl())

    def read_ddl(self) -> str:
        """All-nullable frame_ddl for EXPLICIT-schema parquet reads
        (skips the reader's footer-inference round trip): NOT NULL is
        dropped because delta tombstone rows store NULL non-PK values,
        and a non-nullable read schema would let codegen assume what
        the data violates."""
        import re

        cols = ", ".join(f"`{c.name}` {c.type}" for c in self.columns)
        return re.sub(r"(?:var)?char\s*\(\s*\d+\s*\)", "string", cols)

    def to_json(self) -> dict:
        return {
            "columns": [c.to_json() for c in self.columns],
            "pk": self.pk,
            "version": self.version,
            "next_col_id": self.next_col_id,
        }

    @staticmethod
    def from_json(d: dict) -> "Schema":
        return Schema(
            columns=[ColumnSpec.from_json(c) for c in d["columns"]],
            pk=d["pk"],
            version=d.get("version", 1),
            next_col_id=d.get("next_col_id", 0),
        )


# ---------------------------------------------------------------------------
# Partitioning
# ---------------------------------------------------------------------------


@dataclass
class HashDimension:
    """≈ PartitionSchema::HashDimension (partition.h:285-288).
    Bucket = pmod(xxhash64(write-cast columns, lit(seed)), buckets),
    Spark's xxhash64 rather than Kudu's Murmur2-64 — we are not
    binary-compatible. The writer computes it in the JVM (codegen'd,
    inside WholeStageCodegen); the scan planner and locate_row compute
    it on the driver with plans/keyhash.py, bit for bit, so pruning a
    point read runs no Spark job. tests/test_keyhash.py keeps the two
    identical."""

    columns: list[str]
    buckets: int
    seed: int = 0

    def to_json(self) -> dict:
        return {"columns": self.columns, "buckets": self.buckets, "seed": self.seed}

    @staticmethod
    def from_json(d: dict) -> "HashDimension":
        return HashDimension(d["columns"], d["buckets"], d.get("seed", 0))


@dataclass
class RangeSpec:
    """Range component over one or more PK columns (compound range
    keys, partition.h:273). ``ranges`` is an explicit list of
    [lower, upper) bound pairs — Kudu-style non-covering ranges
    (docs/design-docs/non-covering-range-partitions.md); rows outside
    all ranges are write errors. For a single column each bound is a
    scalar (or None = unbounded); for a compound key each bound is a
    list compared lexicographically, where a shorter bound list leaves
    its trailing columns unbounded (Kudu's partial range bounds)."""

    column: str | None = None  # single-column form (back-compat)
    ranges: list[list] = field(default_factory=list)  # [[lower|None, upper|None], ...]
    columns: list[str] | None = None  # compound form; wins over `column`

    @property
    def enabled(self) -> bool:
        return self.column is not None or bool(self.columns)

    @property
    def cols(self) -> list[str]:
        return list(self.columns) if self.columns else ([self.column] if self.column else [])

    def to_json(self) -> dict:
        d = {"column": self.column, "ranges": self.ranges}
        if self.columns:
            d["columns"] = self.columns
        return d

    @staticmethod
    def from_json(d: dict) -> "RangeSpec":
        return RangeSpec(d.get("column"), d.get("ranges", []), d.get("columns"))

    @staticmethod
    def _tuple(v) -> tuple:
        return tuple(v) if isinstance(v, (list, tuple)) else (v,)

    def _ge(self, value: tuple, bound) -> bool:
        """value >= bound, lexicographic; a short bound pads with -inf."""
        if bound is None:
            return True
        b = self._tuple(bound)
        return value[: len(b)] >= b

    def _lt(self, value: tuple, bound) -> bool:
        """value < bound, lexicographic; a short bound pads with -inf
        (so [h1] excludes every row with leading col >= h1)."""
        if bound is None:
            return True
        b = self._tuple(bound)
        return value[: len(b)] < b

    def range_id_of(self, value) -> int:
        """Python-side range lookup (planner); -1 = no covering range.
        ``value`` is a scalar (single-column) or list/tuple (compound)."""
        v = self._tuple(value)
        for i, (lo, hi) in enumerate(self.ranges):
            if self._ge(v, lo) and self._lt(v, hi):
                return i
        return -1

    def leading_bounds(self, rid: int) -> tuple:
        """(lo0, hi0, hi_exclusive) bounds of the range's LEADING
        column — what single-column predicates can prune on. hi is
        exclusive only when the upper bound binds just the leading
        column (a longer bound admits rows at hi0)."""
        lo, hi = self.ranges[rid]
        lo0 = None if lo is None else self._tuple(lo)[0]
        if hi is None:
            return lo0, None, False
        h = self._tuple(hi)
        return lo0, h[0], len(h) == 1


@dataclass
class PartitionSpec:
    """Hash dimensions + optional range component. ``hash_overrides``
    models Kudu's per-range custom hash schemas
    (partition.h:512-517 ranges_with_custom_hash_schemas,
    client.h:1509 KuduRangePartition): range_id -> per-dimension
    bucket counts, so hot ranges can carry more buckets than the
    table-wide default. Keyed by STRING range-id in JSON (JSON object
    keys are strings)."""

    hash_dims: list[HashDimension] = field(default_factory=list)
    range_spec: RangeSpec = field(default_factory=RangeSpec)
    hash_overrides: dict = field(default_factory=dict)  # {range_id: [buckets,...]}

    def buckets_for(self, range_id, dim_idx: int) -> int:
        ov = self.hash_overrides.get(range_id)
        if ov is not None and dim_idx < len(ov):
            return int(ov[dim_idx])
        return self.hash_dims[dim_idx].buckets

    def to_json(self) -> dict:
        d = {
            "hash": [h.to_json() for h in self.hash_dims],
            "range": self.range_spec.to_json(),
        }
        if self.hash_overrides:
            d["hash_overrides"] = {str(k): list(v) for k, v in self.hash_overrides.items()}
        return d

    @staticmethod
    def from_json(d: dict) -> "PartitionSpec":
        return PartitionSpec(
            [HashDimension.from_json(h) for h in d.get("hash", [])],
            RangeSpec.from_json(d.get("range", {"column": None})),
            {int(k): list(v) for k, v in d.get("hash_overrides", {}).items()},
        )


# ---------------------------------------------------------------------------
# Commit log
# ---------------------------------------------------------------------------


@dataclass
class FileEntry:
    path: str  # relative to table root
    rows: int
    bytes: int
    partition: dict  # {"hash": [b0, b1...], "range": range_id}
    seq: int  # commit version that produced it
    schema_version: int
    kind: str = "base"  # "base" | "delta"
    min_pk: list | None = None  # min/max of first PK column (JSON-able)
    max_pk: list | None = None
    # key sidecar of the commit that wrote this file: the presence
    # index's ``.pidx`` directory (plans/presence.py) on pk_bloom_cols
    # tables. Logs written before the delta-key bloom scan plan was
    # removed may still point at a ``.bloom`` file; such entries replay
    # unchanged and vacuum reclaims the file once unreferenced.
    bloom: str | None = None
    # delete-mark classification derived from the file's own parquet
    # __deleted footer stats at flush (kind == "delta" only): "L" =
    # every row group proves max(__deleted)=false (all-live), "D" =
    # every row group proves min(__deleted)=true (pure tombstones),
    # None = mixed or unprovable. Lets the snapshot planner separate
    # DELETE application from row materialization (≈ Kudu's delta
    # relevancy, tablet/delta_relevancy.h, tablet/delta_applier.h:52)
    # without opening a single data file.
    dmark: str | None = None
    # vector columns whose STORED int8 quantization (__q8_<col> +
    # __q8s_<col>) was written into this file (table prop
    # vector_quantize_cols): scan_quantized prunes the scan to the
    # int8 columns only when EVERY live file carries the stored pair
    # — older files fall the whole scan back to on-the-fly
    # quantization until compaction rewrites them.
    vq: list | None = None
    # IVF cell-model stamp: {column: model_id} of the frozen centroid
    # artifact whose assignments (__ivfc_<col>) this file carries.
    # A retrain mints a NEW model_id, so scan_cells can tell current
    # assignments from stale ones without opening a data file — stale
    # or missing stamps fall the scan back to on-the-fly assignment
    # until compaction rewrites (mirrors the vq contract above).
    ivfm: dict | None = None
    # per-file [min, max] of each stored cell column (__ivfc_<col>),
    # read from the file's own parquet footer at flush — zero extra
    # jobs, same pattern as min_pk/dmark. Lets scan_cells prune BASE
    # files at the MANIFEST level (no footer IO at plan time): a
    # cell-clustered corpus opens ~n_probes/n_cells of its files per
    # ANN serve. Safe under merge-on-read because delta/delete files
    # are never pruned — a pruned base row either stays outside the
    # probed cells (filtered post-merge anyway) or is outranked by the
    # delta row that moved it (last-write-wins).
    cellr: dict | None = None

    def to_json(self) -> dict:
        d = {
            "path": self.path,
            "rows": self.rows,
            "bytes": self.bytes,
            "partition": self.partition,
            "seq": self.seq,
            "schema_version": self.schema_version,
            "kind": self.kind,
            "min_pk": self.min_pk,
            "max_pk": self.max_pk,
        }
        if self.bloom:
            d["bloom"] = self.bloom
        if self.dmark:
            d["dmark"] = self.dmark
        if self.vq:
            d["vq"] = self.vq
        if self.ivfm:
            d["ivfm"] = self.ivfm
        if self.cellr:
            d["cellr"] = self.cellr
        return d

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        return FileEntry(
            d["path"], d["rows"], d.get("bytes", 0), d["partition"], d["seq"],
            d.get("schema_version", 1), d.get("kind", "base"), d.get("min_pk"), d.get("max_pk"),
            d.get("bloom"), d.get("dmark"), d.get("vq"), d.get("ivfm"),
            d.get("cellr"),
        )


def _log_path(table_root: str, version: int) -> str:
    return os.path.join(table_root, LOG_DIR, f"{version:020d}.json")


def append_commit(table_root: str, expected_version: int, payload: dict) -> int:
    """Atomically publish commit ``expected_version`` (optimistic
    concurrency: create-if-absent fails if another writer won — caller
    reloads and retries, ≈ Kudu leader serialization via Raft). The
    publish goes through the root's Env (fs.py): O_CREAT|O_EXCL via
    hardlink locally; see fs.py for the object-store caveat."""
    payload = dict(payload)
    payload["version"] = expected_version
    payload.setdefault("timestamp_ms", int(time.time() * 1000))
    path = _log_path(table_root, expected_version)
    try:
        env_for_root(table_root).publish_new(
            path, json.dumps(payload).encode(), fsync=True)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"commit {expected_version} already exists at {path}"
        ) from None
    return expected_version


def read_log(table_root: str, max_version: int | None = None,
             min_version: int | None = None) -> list[dict]:
    """Commits with ``min_version < version <= max_version`` in order.
    ``min_version`` lets checkpoint-seeded replays and change-feed
    windows read O(window) files instead of O(history).

    Versions are dense (append_commit publishes HEAD+1), so the window
    is read by constructing each commit path directly — zero directory
    LISTs, which matters on an object store where a 100k-commit log
    would otherwise pay many paginated LIST round-trips per replay
    (≈ Kudu keeps its WAL segment index resident, consensus/log.h).
    A hand-pruned (non-dense) log falls back to one full listing."""
    if max_version is None:
        max_version = head_version(table_root) or 0
    lo = min_version or 0
    env = env_for_root(table_root)
    commits = []
    for v in range(lo + 1, max_version + 1):
        try:
            commits.append(json.loads(env.read_bytes(_log_path(table_root, v))))
        except FileNotFoundError:
            return _read_log_listed(table_root, max_version, min_version)
    return commits


def _read_log_listed(table_root: str, max_version, min_version) -> list[dict]:
    """Listing-based fallback for logs with version gaps."""
    env = env_for_root(table_root)
    log_dir = os.path.join(table_root, LOG_DIR)
    commits = []
    for name in sorted(env.listdir(log_dir)):
        if not name.endswith(".json") or ".tmp." in name or not name[:-5].isdigit():
            continue
        v = int(name[:-5])
        if min_version is not None and v <= min_version:
            continue
        if max_version is not None and v > max_version:
            break
        commits.append(json.loads(env.read_bytes(os.path.join(log_dir, name))))
    return commits


def log_versions(table_root: str) -> list[int]:
    """Sorted commit versions present in the log — one directory
    listing, no file reads."""
    return sorted(
        int(n[:-5])
        for n in env_for_root(table_root).listdir(os.path.join(table_root, LOG_DIR))
        if n.endswith(".json") and ".tmp." not in n and n[:-5].isdigit()
    )


# HEAD lookup cache: last known head per table root. Versions are dense,
# so the current head is found by probing FORWARD from the cached value
# with O(commits since last look) existence checks — no directory
# listing at all in the steady state. Correct under concurrent writers
# (a stale cached head only means a few extra probes); a table dropped
# and recreated at the same path is caught because its old head file no
# longer exists, which forces one re-listing.
_HEAD_CACHE: dict[str, int] = {}


def head_version(table_root: str) -> int | None:
    """Newest commit version, O(new commits) stat calls (no LIST)."""
    root = canon_root(table_root)
    env = env_for_root(table_root)
    v = _HEAD_CACHE.get(root)
    if v is None or not env.exists(_log_path(table_root, v)):
        vs = log_versions(table_root)
        if not vs:
            _HEAD_CACHE.pop(root, None)
            return None
        v = vs[-1]
    while env.exists(_log_path(table_root, v + 1)):
        v += 1
    _HEAD_CACHE[root] = v
    return v


@dataclass
class TableState:
    """Materialized view of the log at some version (an MVCC snapshot)."""

    name: str
    root: str
    version: int
    schema: Schema
    schemas_by_version: dict[int, Schema]
    partition_spec: PartitionSpec
    files: list[FileEntry]
    props: dict
    tombstoned: bool = False
    timestamps_ms: dict[int, int] = field(default_factory=dict)

    def files_for_partition(self, pred=None) -> list[FileEntry]:
        return [f for f in self.files if pred is None or pred(f)]


# ---------------------------------------------------------------------------
# Checkpoints + state cache
#
# Kudu keeps tablet metadata resident in the master/tserver
# (master/catalog_manager.cc, tablet/tablet_metadata.h superblocks); the
# file-native equivalent is (a) a serialized TableState snapshot under
# _log/checkpoints/ every CHECKPOINT_EVERY commits, so replay reads
# O(CHECKPOINT_EVERY) log files instead of O(history), and (b) a
# process-local LRU keyed by (root, version, commit-file identity) —
# commit files are immutable once published, so a cached state can
# never go stale, and the identity component protects against a table
# recreated at the same path.
# Checkpoints are self-healing: whichever reader or writer first
# replays far enough past the newest checkpoint writes the next one.
# ---------------------------------------------------------------------------

CHECKPOINT_EVERY = 32
CHECKPOINTS_KEPT = 4
_STATE_CACHE: dict[tuple, "TableState"] = {}
_STATE_CACHE_MAX = 64


def _checkpoint_dir(table_root: str) -> str:
    return os.path.join(table_root, LOG_DIR, "checkpoints")


def checkpoint_versions(table_root: str) -> list[int]:
    return sorted(
        int(n[:-5])
        for n in env_for_root(table_root).listdir(_checkpoint_dir(table_root))
        if n.endswith(".json") and ".tmp." not in n and n[:-5].isdigit()
    )


def _state_to_json(st: "TableState") -> dict:
    return {
        "version": st.version,
        "schema_version": st.schema.version,
        "schemas": {str(v): s.to_json() for v, s in st.schemas_by_version.items()},
        "partition_spec": st.partition_spec.to_json(),
        "files": [f.to_json() for f in st.files],
        "props": st.props,
        "tombstoned": st.tombstoned,
        "timestamps_ms": {str(v): t for v, t in st.timestamps_ms.items()},
    }


def _state_from_json(name: str, root: str, d: dict) -> "TableState":
    schemas = {int(v): Schema.from_json(s) for v, s in d["schemas"].items()}
    return TableState(
        name=name,
        root=root,
        version=d["version"],
        schema=schemas[d["schema_version"]],
        schemas_by_version=schemas,
        partition_spec=PartitionSpec.from_json(d["partition_spec"]),
        files=[FileEntry.from_json(f) for f in d["files"]],
        props=d.get("props", {}),
        tombstoned=d.get("tombstoned", False),
        timestamps_ms={int(v): t for v, t in d.get("timestamps_ms", {}).items()},
    )


def write_checkpoint(st: "TableState") -> None:
    """Atomically publish a checkpoint of ``st`` and GC old ones.
    Contents are deterministic per version, so concurrent writers
    racing on the same version are harmless (last rename wins)."""
    env = env_for_root(st.root)
    d = _checkpoint_dir(st.root)
    env.makedirs(d)
    env.write_bytes(
        os.path.join(d, f"{st.version:020d}.json"),
        json.dumps(_state_to_json(st)).encode(),
    )
    for v in checkpoint_versions(st.root)[:-CHECKPOINTS_KEPT]:
        try:
            env.unlink(os.path.join(d, f"{v:020d}.json"), missing_ok=True)
        except OSError:
            pass


def _apply_commits(acc: dict, commits: list[dict]) -> None:
    for c in commits:
        acc["ts"][c["version"]] = c.get("timestamp_ms", 0)
        if "schema" in c:
            sch = Schema.from_json(c["schema"])
            acc["schema"] = sch
            acc["schemas"][sch.version] = sch
        if "partition_spec" in c:
            acc["pspec"] = PartitionSpec.from_json(c["partition_spec"])
        if c.get("op") == "soft_delete":
            acc["tombstoned"] = True
        elif c.get("op") == "recall":
            acc["tombstoned"] = False
        for a in c.get("actions", []):
            if a["type"] == "add":
                fe = FileEntry.from_json(a["file"])
                acc["files"][fe.path] = fe
            elif a["type"] == "remove":
                acc["files"].pop(a["path"], None)
        acc["props"].update(c.get("props", {}))


def replay(name: str, root: str, max_version: int | None = None) -> TableState | None:
    """TableState at ``max_version`` (None = HEAD). O(1) for cached
    versions, O(commits since last checkpoint) otherwise. Treat the
    returned state as immutable — it is shared across callers."""
    head = head_version(root)
    if head is None:
        return None
    env = env_for_root(root)
    target = head if max_version is None else min(head, max_version)
    if target < 1:
        return None
    if max_version is not None and not env.exists(_log_path(root, target)):
        # non-dense log (hand-pruned): locate the newest version <= max
        live = [v for v in log_versions(root) if v <= max_version]
        if not live:
            return None
        target = live[-1]
    # key on the commit file's identity (env-specific: inode + mtime
    # locally, etag/mtime on object stores), not just the version: a
    # table dropped and recreated at the same path restarts version
    # numbering, and a bare (root, version) key would serve the dead
    # table's state
    ident = env.identity(_log_path(root, target))
    key = (canon_root(root), target, ident) if ident is not None else None
    hit = _STATE_CACHE.pop(key, None) if key is not None else None
    if hit is not None:
        _STATE_CACHE[key] = hit  # reinsert at the tail: hits refresh LRU recency
        return hit

    ckpts = [v for v in checkpoint_versions(root) if v <= target]
    base: TableState | None = None
    if ckpts:
        try:
            base = _state_from_json(name, root, json.loads(env.read_bytes(
                os.path.join(_checkpoint_dir(root), f"{ckpts[-1]:020d}.json"))))
        except (OSError, ValueError, KeyError):
            base = None  # torn/old checkpoint: fall back to full replay

    if base is not None:
        acc = {
            "schema": base.schema,
            "schemas": dict(base.schemas_by_version),
            "pspec": base.partition_spec,
            "files": {f.path: f for f in base.files},
            "props": dict(base.props),
            "tombstoned": base.tombstoned,
            "ts": dict(base.timestamps_ms),
        }
        commits = read_log(root, target, min_version=base.version)
        replayed_from = base.version
    else:
        acc = {
            "schema": None, "schemas": {}, "pspec": PartitionSpec(),
            "files": {}, "props": {}, "tombstoned": False, "ts": {},
        }
        commits = read_log(root, target)
        replayed_from = 0
    _apply_commits(acc, commits)
    assert acc["schema"] is not None, f"log for {name} never set a schema"
    st = TableState(
        name=name,
        root=root,
        version=target,
        schema=acc["schema"],
        schemas_by_version=acc["schemas"],
        partition_spec=acc["pspec"],
        files=list(acc["files"].values()),
        props=acc["props"],
        tombstoned=acc["tombstoned"],
        timestamps_ms=acc["ts"],
    )
    if target - replayed_from >= CHECKPOINT_EVERY:
        try:
            write_checkpoint(st)
        except OSError:
            pass  # read-only media: checkpointing is an optimization only
    if key is not None:
        if len(_STATE_CACHE) >= _STATE_CACHE_MAX:
            _STATE_CACHE.pop(next(iter(_STATE_CACHE)))
        _STATE_CACHE[key] = st
    return st


def version_at_timestamp(root: str, timestamp_ms: int) -> int | None:
    """Largest commit version with commit time <= timestamp_ms
    (READ_AT_SNAPSHOT by time, common.proto:268)."""
    st = replay("", root, None)
    if st is None:
        return None
    versions = [v for v, t in st.timestamps_ms.items() if t <= timestamp_ms]
    return max(versions) if versions else None

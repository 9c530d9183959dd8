"""Presence-index sidecars: sorted key-hash arrays for exact,
O(batch) key-membership checks against table state.

Kudu answers "is this key present?" with a per-rowset bloom filter
followed by a B-tree seek of the surviving candidates
(tablet/tablet.cc:116-124, cfile/bloomfile.cc, cfile/index_btree.cc)
— O(probe keys), never O(table). Round 7 approximated only the bloom
half (per-commit bloom sidecars ORed into a plan-literal expression)
and paid for it twice at scale, as measured in VERDICT r7:

  1. bloom POSITIVES (true hits + aggregate-fpp false hits) still
     needed exact verification against a data-file scan, which
     degenerates to O(state) once the positive set outgrows IN-list
     pruning — md5-random keys defeat every range/stat prune;
  2. the serialized bloom rode the task binary as a literal
     (23 MiB per stage at 2.5M docs, linear in corpus keys — past
     the JVM array limit near 1e9 keys).

This module is the B-tree half, Spark-shaped, and it REPLACES the
bloom: every commit, base or delta, persists the sorted ``xxhash64``
of its rows' key tuple, sharded by ``hash % nshards`` into bounded
files. A probe

  - computes the same hash JVM-side (``F.xxhash64`` over write-cast
    columns — identical expression at build and probe time; the
    driver-side twin in plans/keyhash.py, which the scan planner and
    locate_row use for partition buckets, computes it bit for bit
    too — tests/test_keyhash.py and test_presence pin it — but the
    probe itself stays in the JVM),
  - for large indexes first repartitions the (small) probe batch by
    shard id, so each task touches one shard per sidecar,
  - and runs an Arrow-batched pandas UDF that binary-searches the
    shard arrays, loaded from the table's storage ON THE EXECUTOR
    and cached per worker process — nothing rides the task binary,
    and a shard is read at most once per worker per epoch.

Presence is EXACT up to 64-bit hash collisions (P ~ n_probe x
n_table / 2^64; ~1e-9 per 20k-doc batch against 40M keys), so there
is no positive-verification scan at all: the round-7 degenerate-scan
path simply does not exist. Callers that need contractual exactness
(duplicate-PK errors on INSERT) still verify the returned positives
— a set that is now O(true hits), not O(true hits + fpp x batch).

Shard counts are powers of two, so ``h % ns_small`` is a function of
``h % ns_large`` whenever ``ns_small`` divides ``ns_large`` —
repartitioning the probe batch by the LARGEST sidecar's shard count
co-locates each key with its shard in EVERY sidecar at once.

This module is the one place that knows the sidecar format and the
rules built on it. ``Table`` only reads the files it hashes, builds
the probe plan, commits and logs.

Format. A sidecar is a directory (``<seq>-<uuid>.pidx/``, see
``SUFFIX``; any other ``bloom`` path on a FileEntry is a legacy
sidecar, which probes decline) holding up to TWO shard families —
live keys and delete-tombstone keys:

  meta.json           {"version": 2, "cols": [...], "types": [...],
                       "seq": Q, "nshards": S, "rows": N, "bytes": B,
                       "del_nshards": S', "del_rows": N',
                       "mixed": bool, "del_unindexed": bool}
                      — written LAST; its presence marks the sidecar
                      complete. ``bytes`` is the total size of the
                      shard files (fsck audits it). ``seq`` is the
                      covered commit's manifest seq: probe answers
                      resolve per key by the HIGHEST-seq hit (live hit
                      → present, delete hit → absent; live wins a tie
                      at one seq), which is how the reference keeps
                      presence exact through un-compacted deletes —
                      delete deltas are consulted with timestamps
                      (tablet/tablet.cc:116-124, tablet/delta_tracker.cc)
  shard-<s>.i64       sorted, deduped int64 hashes of LIVE keys
  del-<s>.i64         sorted, deduped int64 hashes of DELETEd keys
                      (shards with no keys have no file)

``mixed`` marks a commit that wrote live AND delete rows at one seq:
within-commit ordering is unknown, so probes answer live-wins —
superset semantics, never a false negative. ``del_unindexed`` marks a
commit whose delete keys could NOT be indexed — the hashed tuple is
not the FULL pk: outside it (delete tombstones only carry the PK) or
a strict prefix of it (sibling rows share a prefix tuple, so one
row's delete must not subtract it): probes degrade to superset, and
exactness is declined honestly. Metas of the first format carried a
``tombstones`` marker and no delete family, and sidecars without
``seq`` predate seq stamping: probes decline on the first, answer a
superset when the second sits beside a delete family, and merges
skip both.

``cols``/``types`` stamp the hashed tuple (names AND declared types):
probes decline on any mismatch, so ALTERing ``pk_bloom_cols`` or a
key column's type can never turn old sidecars into false negatives
(ADVICE r7, medium).

Entry points ``Table`` calls:

  - ``sidecar_name`` + ``build_commit_index``: one sidecar per commit
    (``Table._attach_presence_index``);
  - ``sync_seq``: re-stamp metas to the seqs a commit actually lands
    at (``Table._commit``);
  - ``resolve``: the probe plan — shard families, the hashed tuple
    and exactness, or a decline reason (``Table._presence_lookup``);
    ``total_bytes``, ``load_all_shards`` and ``present_udf`` run it;
  - ``summary``: the ``presence_*`` keys of ``Table.statistics()``,
    exactness being resolve()'s own verdict;
  - ``merge_window`` + ``merge_indexes``: the size-tiered sidecar
    merge (``Table.merge_presence_sidecars``);
  - ``absorb_dying_deletes``: the delete-key hand-off of a partial
    compaction (``Table.compact``);
  - ``audit``: fsck's shard-bytes check (``Engine.fsck``).

Scale: shards target ~512k keys (4 MiB); build cost is one pass over
the commit's rows (small commits sort driver-side, large ones
shard-shuffle and write from executors — the same
executors-write-to-shared-storage contract as the parquet data
files). Index bytes are 8/key — 0.8 GB per 1e8 keys, loaded
shard-wise, never concentrated on the driver or in a plan.
"""

# NOTE: no `from __future__ import annotations` here — it would
# stringify the pandas_udf type hints and break Spark's signature
# inference for present_udf.
import json
import os
import uuid

import numpy as np

TARGET_SHARD_KEYS = 1 << 19  # ~4 MiB of int64 per shard
SMALL_BUILD_MAX = 2_000_000  # below this, sort driver-side (no shuffle)
META_NAME = "meta.json"
SUFFIX = ".pidx"  # sidecar directories end in this; anything else is legacy
_VERSION = 2  # v2: seq-stamped metas + delete shard family

# per-worker shard cache: (abs dir, shard) -> sorted int64 array,
# LRU (dict insertion order + move-to-end on hit — a probe working
# set slightly over the byte budget must not evict its hottest
# shard). Bounded by total bytes AND by entry count: each cached
# memmap holds an open fd, and the fd budget is independent of byte
# size (a thousand 4 KiB shards cost ~0 bytes but 1000 fds).
# Immutable files, so no invalidation beyond eviction. With
# spark.python.worker.reuse (default) this persists across tasks, so
# steady-state probes re-read nothing.
_SHARD_CACHE: dict[tuple[str, int], np.ndarray] = {}
_SHARD_CACHE_BYTES = 512 << 20
_SHARD_CACHE_MAX_FDS = 256


def shards_for(rows: int) -> int:
    """Power-of-two shard count targeting TARGET_SHARD_KEYS per shard
    (power of two so smaller sidecars' shard ids are derivable from
    the largest's — see module docstring)."""
    ns = 1
    while ns * TARGET_SHARD_KEYS < max(int(rows), 1):
        ns *= 2
    return ns


def _shard_path(dir_abs: str, shard: int, prefix: str = "shard") -> str:
    return os.path.join(dir_abs, f"{prefix}-{shard:05d}.i64")


def _write_shard(dir_abs: str, shard: int, arr: np.ndarray,
                 prefix: str = "shard") -> int:
    """Atomically persist one sorted shard; returns bytes written.
    IO goes through the sidecar root's Env (fs.py) — tmp+rename
    locally, a direct object write elsewhere."""
    from kudu_spark.fs import env_for_root

    data = np.ascontiguousarray(arr, dtype="<i8").tobytes()
    env_for_root(dir_abs).write_bytes(_shard_path(dir_abs, shard, prefix), data)
    return len(data)


def _write_family(dir_abs: str, src, ns: int, prefix: str) -> int:
    """Write one shard family and return its bytes. ``src`` is either
    an in-memory int64 hash array (driver-side build: shard, sort and
    write here) or a DataFrame with an ``h`` BIGINT column
    (executor-side build: shard-shuffle the hashes and let each group
    task sort and write its own shard file to the table root, the same
    shared-storage write contract as the parquet data files)."""
    if isinstance(src, np.ndarray):
        shard = src % ns if ns > 1 else np.zeros(len(src), dtype="int64")
        return sum(_write_shard(dir_abs, int(s), np.unique(src[shard == s]), prefix)
                   for s in np.unique(shard))
    import pandas as pd
    from pyspark.sql import functions as F

    def write_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        s = int(pdf["s"].iloc[0])
        n = _write_shard(dir_abs, s, np.unique(pdf["h"].to_numpy("int64")),
                         prefix)
        return pd.DataFrame({"s": [s], "b": [n]})

    got = (
        src.select("h", F.pmod(F.col("h"), F.lit(ns)).alias("s"))
        .groupBy("s")
        .applyInPandas(write_group, schema="s int, b long")
        .collect()
    )
    return int(sum(r["b"] for r in got))


def _write_meta(dir_abs: str, meta: dict) -> dict:
    """Publish a sidecar's meta.json. It lands last: a crash mid-build
    leaves no meta and the sidecar reads as absent (probes decline,
    vacuum collects it)."""
    from kudu_spark.fs import env_for_root

    env_for_root(dir_abs).write_bytes(os.path.join(dir_abs, META_NAME),
                                      json.dumps(meta).encode())
    _META_CACHE[dir_abs] = meta
    return meta


def sidecar_name(seq: int) -> str:
    """A fresh sidecar directory name for a commit at ``seq``."""
    return f"{int(seq):012d}-{uuid.uuid4().hex}{SUFFIX}"


def build_commit_index(hd, total_rows: int, dir_abs: str,
                       cols: list[str], types: list[str], seq: int,
                       del_indexed: bool = True) -> dict:
    """Build one commit's sidecar and return its meta. ``hd`` is a
    frame holding ``h`` BIGINT (the key hash) and, when the commit may
    hold delete tombstones, ``d`` BOOLEAN (is-delete), or the same as a
    pair of numpy arrays ``(h, d)`` hashed on the driver, ``d`` None
    for all-live. Without ``d`` the commit is all-live: nothing reads
    ``__deleted`` and no count runs. Live keys
    land in the ``shard-*`` family, delete keys in ``del-*``. A probe
    hitting the delete family at this commit's ``seq`` answers ABSENT
    unless a higher-seq live hit exists — the subtraction that keeps
    presence exact through un-compacted DELETEs (reference: delete
    deltas consulted with timestamps, tablet/tablet.cc:116-124).

    ``del_indexed=False`` (the hashed tuple is not the full PK, so
    delete keys can't be subtracted): delete keys are NOT indexed;
    the meta records ``del_unindexed`` and probes degrade honestly to
    superset. A commit with both live and delete rows is marked
    ``mixed`` (within-commit ordering unknown → live-wins superset).

    Hashes in hand and small commits sort driver-side; above
    SMALL_BUILD_MAX rows on a filesystem every executor can write, the
    shards are written by executors (driver-local envs such as
    memory:// always build driver-side)."""
    from pyspark.sql import functions as F

    from kudu_spark.fs import env_for_root

    env = env_for_root(dir_abs)
    env.makedirs(dir_abs)
    if isinstance(hd, tuple) or total_rows <= SMALL_BUILD_MAX or not env.distributed:
        if isinstance(hd, tuple):
            h, d = hd
        else:
            pdf = hd.toPandas()
            h = pdf["h"].to_numpy(dtype="int64")
            d = pdf["d"].to_numpy(dtype=bool) if "d" in hd.columns else None
        if d is None:
            d = np.zeros(len(h), dtype=bool)
        live, dele = h[~d], h[d]
        n_live, n_del = len(live), len(dele)
    elif "d" not in hd.columns:
        live, dele = hd, None
        n_live, n_del = int(total_rows), 0
    else:
        live, dele = hd.where(~F.col("d")), hd.where(F.col("d"))
        counts = {bool(r["d"]): int(r["cnt"]) for r in
                  hd.groupBy("d").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        n_live, n_del = counts.get(False, 0), counts.get(True, 0)
    ns = shards_for(n_live)
    meta = {"version": _VERSION, "cols": list(cols), "types": list(types),
            "seq": int(seq), "nshards": ns, "rows": int(n_live),
            "bytes": _write_family(dir_abs, live, ns, "shard")}
    if n_del:
        if del_indexed:
            ns_d = shards_for(n_del)
            meta["bytes"] += _write_family(dir_abs, dele, ns_d, "del")
            meta.update(del_nshards=ns_d, del_rows=int(n_del))
        else:
            meta.update(del_unindexed=True, del_rows=int(n_del))
        if n_live:
            meta["mixed"] = True
    return _write_meta(dir_abs, meta)


_META_CACHE: dict[str, dict] = {}


def read_meta(dir_abs: str) -> dict | None:
    """Sidecar meta, cached per process (immutable once written)."""
    hit = _META_CACHE.get(dir_abs)
    if hit is not None:
        return hit
    from kudu_spark.fs import env_for_root

    try:
        meta = json.loads(
            env_for_root(dir_abs).read_bytes(os.path.join(dir_abs, META_NAME)))
    except (OSError, ValueError):
        return None
    if len(_META_CACHE) > 4096:
        _META_CACHE.clear()
    _META_CACHE[dir_abs] = meta
    return meta


def _load_shard(dir_abs: str, shard: int, prefix: str = "shard") -> np.ndarray:
    """Memory-map the shard read-only: every worker process on a host
    shares ONE page-cache copy of the index (np.fromfile would copy
    each shard into each of the ~cores python workers — O(cores x
    index) RSS), loads are lazy (a binary search touches O(log) pages,
    so a post-merge cold probe does not re-read the whole index), and
    sidecar files are immutable-once-published, so a mapping can never
    observe a torn write. The cache bounds VIRTUAL bytes — i.e. open
    fds — not RSS; the kernel evicts pages under pressure."""
    key = (dir_abs, shard, prefix)
    hit = _SHARD_CACHE.pop(key, None)
    if hit is not None:
        _SHARD_CACHE[key] = hit  # reinsert at tail: LRU recency on hit
        return hit
    from kudu_spark.fs import env_for_root

    try:
        # LocalEnv memory-maps (the fast path described above);
        # remote envs read the shard into memory instead
        arr = env_for_root(dir_abs).read_array(
            _shard_path(dir_abs, shard, prefix))
    except FileNotFoundError:
        arr = np.empty(0, dtype="<i8")  # shard had no keys (never written)
    except (OSError, ValueError) as e:
        # any OTHER IO error (a transient object-store failure, a
        # truncated/odd-length file) must NOT read as "absent": a
        # swallowed flake here becomes a false negative feeding the
        # insert duplicate check (ADVICE r9). Fail the probe task
        # loudly instead — wrong answers are worse than no answer.
        raise OSError(
            f"presence shard {_shard_path(dir_abs, shard, prefix)} unreadable "
            f"({type(e).__name__}: {e}); refusing to treat an IO error "
            "as an empty shard"
        ) from e
    while _SHARD_CACHE and (
        len(_SHARD_CACHE) >= _SHARD_CACHE_MAX_FDS
        or sum(a.nbytes for a in _SHARD_CACHE.values()) + arr.nbytes
        > _SHARD_CACHE_BYTES
    ):
        _SHARD_CACHE.pop(next(iter(_SHARD_CACHE)))
    _SHARD_CACHE[key] = arr
    return arr


def _norm_specs(specs):
    """Probe specs (dir, nshards, seq, live: bool) in resolution order:
    seq DESCENDING (newest commit answers first), live-before-delete
    on seq ties (a key both live and deleted at one seq — a mixed
    commit — reads live: superset-safe, never a false negative)."""
    return sorted(((t[0], int(t[1]), int(t[2]), bool(t[3])) for t in specs),
                  key=lambda t: (-t[2], not t[3]))


def probe_hashes(specs, hv: np.ndarray) -> np.ndarray:
    """Membership of each int64 hash in ``hv`` against the sidecar
    families in ``specs`` (see _norm_specs): walking families newest-
    first, each key resolves at its FIRST hit — a live hit answers
    present, a delete hit answers absent (the seq subtraction that
    keeps probes exact through un-compacted DELETEs). One binary
    search per (family, key) not yet resolved. Pure numpy — this is
    the body of the Arrow-batched UDF, factored out so it is testable
    without a SparkSession."""
    hv = np.asarray(hv, dtype="int64")
    out = np.zeros(len(hv), dtype=bool)
    resolved = np.zeros(len(hv), dtype=bool)
    for dir_abs, ns, _seq, live in _norm_specs(specs):
        todo = ~resolved
        if not todo.any():
            break
        prefix = "shard" if live else "del"
        shard = hv % ns if ns > 1 else np.zeros(len(hv), dtype="int64")
        for s in np.unique(shard[todo]):
            arr = _load_shard(dir_abs, int(s), prefix)
            if not len(arr):
                continue
            mask = todo & (shard == s)
            vals = hv[mask]
            idx = np.searchsorted(arr, vals)
            idx[idx >= len(arr)] = len(arr) - 1
            hit = np.zeros(len(hv), dtype=bool)
            hit[mask] = arr[idx] == vals
            out[hit] = live
            resolved |= hit
    return out


def load_all_shards(specs) -> dict:
    """Every shard of every sidecar family in ``specs``, loaded
    eagerly into {(dir, shard, prefix): array} — ONLY for driver-local
    Envs (memory://), whose bytes executor worker processes cannot
    see. The arrays then ride the UDF closure; acceptable for dev/test
    roots, never the 100 TB path (distributed Envs load executor-side,
    nothing in the task binary)."""
    from kudu_spark.fs import env_for_root

    out = {}
    for dir_abs, ns, _seq, live in _norm_specs(specs):
        env = env_for_root(dir_abs)
        prefix = "shard" if live else "del"
        for s in range(ns):
            try:
                out[(dir_abs, s, prefix)] = np.asarray(
                    env.read_array(_shard_path(dir_abs, s, prefix)))
            except FileNotFoundError:
                out[(dir_abs, s, prefix)] = np.empty(0, dtype="<i8")
    return out


def present_udf(specs: tuple, preload: dict | None = None):
    """Arrow-batched membership test against the sidecar families in
    ``specs`` ((dir, nshards, seq, live) tuples — see _norm_specs,
    as resolve() returns them). The closure
    carries only paths and ints — the index bytes load executor-side —
    except for driver-local Envs, whose shards ship via ``preload``
    (load_all_shards)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def present(h: pd.Series) -> pd.Series:
        # resolve through the imported module, not closure globals:
        # cloudpickle captures a nested function's referenced globals
        # BY VALUE, so touching `_SHARD_CACHE` directly here would
        # seed a pickled copy the real loader never reads
        from kudu_spark.plans import presence as _p

        if preload is not None:
            _p._SHARD_CACHE.update(preload)  # seed this worker's cache
        return pd.Series(_p.probe_hashes(specs, h.to_numpy(dtype="int64")))

    return present


# below this many total source bytes a merge runs driver-side (one
# shard in memory at a time); above it the per-shard gathers fan out
# to executors — the driver never concentrates O(index) IO, Kudu's
# compaction-on-tserver shape (tablet/compaction.cc runs where the
# data lives, never on the master)
DRIVER_MERGE_MAX_BYTES = 64 << 20


def _gather_family(d: str, ns_i: int, prefix: str, s: int,
                   ns_m: int) -> np.ndarray:
    """The keys of one source family congruent to ``s`` mod ``ns_m``.
    Shard counts are powers of two, so from a coarser source
    (ns_i <= ns_m) it is the single shard ``s % ns_i`` filtered to
    ``h % ns_m == s``; from a finer source every shard
    ``t ≡ s (mod ns_m)`` whole. Missing shard files = no keys; any
    OTHER IO error propagates — silently dropping keys from a MERGED
    sidecar would be a permanent false negative."""
    from kudu_spark.fs import env_for_root

    env = env_for_root(d)
    if ns_i <= 0:
        return np.empty(0, dtype="<i8")
    if ns_i <= ns_m:
        try:
            arr = np.asarray(env.read_array(_shard_path(d, s % ns_i, prefix)))
        except FileNotFoundError:
            return np.empty(0, dtype="<i8")
        return arr[arr % ns_m == s] if ns_m > 1 else arr
    chunks = []
    for t in range(s, ns_i, ns_m):
        try:
            chunks.append(np.asarray(env.read_array(_shard_path(d, t, prefix))))
        except FileNotFoundError:
            pass
    if not chunks:
        return np.empty(0, dtype="<i8")
    return np.concatenate(chunks)


def _replay_shard(s: int, srcs: list, ns_m: int):
    """Merged shard ``s``: REPLAY the source commits in ascending seq
    — per commit, first subtract its delete keys from the accumulated
    live set (and remember them), then union its live keys — exactly
    merge-on-read's last-write-wins applied to key presence. Returns
    (live, deletes): ``live`` is the keys present as of the window's
    max seq; ``deletes`` is the union of delete keys, retained so the
    merged sidecar keeps subtracting keys from sidecars OLDER than the
    window (a delete key re-added within the window sits in both —
    the probe's live-first tie rule reads it present, correctly).
    ``srcs`` is [(dir, live_ns, del_ns)] ASCENDING seq. Pure numpy —
    runs on driver or executor."""
    live = np.empty(0, dtype="<i8")
    dels = np.empty(0, dtype="<i8")
    for d, ns_i, ns_d in srcs:
        dl = _gather_family(d, ns_d, "del", s, ns_m)
        if len(dl):
            if len(live):
                live = live[~np.isin(live, dl, assume_unique=False)]
            dels = np.union1d(dels, dl)
        lv = _gather_family(d, ns_i, "shard", s, ns_m)
        if len(lv):
            live = np.union1d(live, lv)
    return live, dels


def absorb_dying_deletes(root: str, files: list, removed: list,
                         new_entries: list) -> dict | None:
    """Fold the delete families of sidecars DYING in a compaction (every
    file referencing them is in ``removed``) into the sidecar of
    ``new_entries`` — the hand-off that keeps probes exact through
    PARTIAL compactions: when a compaction folds delete deltas and
    removes every file referencing their sidecar, the subtraction
    those delete keys provided would vanish while OLDER commit-wide
    live sidecars (with files in untouched partitions) still list the
    deleted keys — a false "present" claimed exact. The new compacted
    sidecar inherits the delete keys instead (its seq is the newest,
    so the subtraction keeps applying to every older sidecar; keys
    re-inserted before the compaction sit in its live family and win
    the live-first tie).

    A dying sidecar whose delete keys were never indexed (prefix-tuple
    tables, legacy markers) can't hand keys over: the new sidecar is
    marked ``del_unindexed`` and probes degrade honestly to superset.
    A FULL compaction (no other sidecar survives) hands nothing over —
    nothing older can overcount — which is also what finally clears an
    inherited ``del_unindexed``. Runs driver-side before the commit
    publishes (delete families are delta-sized) and rewrites the del
    family and meta in place — the sidecar is unreferenced until its
    commit lands. Returns the new meta, or None when nothing changed."""
    from kudu_spark.fs import env_for_root

    new_rel = next((e.bloom for e in new_entries
                    if e.bloom and e.bloom.endswith(SUFFIX)), None)
    removed_paths = {f.path for f in removed}
    survivors = {f.bloom for f in files if f.bloom and f.path not in removed_paths}
    if new_rel is None or not survivors:
        return None
    retained, unindexed_rows = [], 0
    for rel in sorted({f.bloom for f in removed if f.bloom} - survivors):
        meta = read_meta(os.path.join(root, rel)) if rel.endswith(SUFFIX) else None
        if meta is None:
            continue  # not a presence index, or unreadable: probes decline on it
        if meta.get("tombstones") or meta.get("del_unindexed"):
            unindexed_rows += int(meta.get("del_rows", 0)) or 1
        elif int(meta.get("del_rows", 0)):
            retained.append(os.path.join(root, rel))
    dir_abs = os.path.join(root, new_rel)
    meta = read_meta(dir_abs)
    if meta is None or not (retained or unindexed_rows):
        return None
    env = env_for_root(dir_abs)
    parts = []
    for d, m in [(dir_abs, meta)] + [(d, read_meta(d) or {}) for d in retained]:
        for s in range(int(m.get("del_nshards", 0))):
            try:
                parts.append(np.asarray(env_for_root(d).read_array(
                    _shard_path(d, s, "del"))))
            except FileNotFoundError:
                pass
    dels = np.unique(np.concatenate(parts)) if parts else np.empty(0, "<i8")
    # drop the old del family (stale shard files would double-count in
    # fsck's byte audit), rewrite under the new modulus
    old_bytes = 0
    for n in env.listdir(dir_abs):
        if n.startswith("del-") and n.endswith(".i64"):
            old_bytes += env.size(os.path.join(dir_abs, n))
            env.unlink(os.path.join(dir_abs, n))
    meta = dict(meta)
    meta["bytes"] = int(meta.get("bytes", 0)) - old_bytes
    if len(dels):
        ns_d = shards_for(len(dels))
        meta["bytes"] += _write_family(dir_abs, dels, ns_d, "del")
        meta.update(del_nshards=ns_d, del_rows=int(len(dels)))
    else:
        meta.pop("del_nshards", None)
        meta.pop("del_rows", None)
    if unindexed_rows:
        meta["del_unindexed"] = True
        meta["del_rows"] = int(meta.get("del_rows", 0)) + int(unindexed_rows)
    return _write_meta(dir_abs, meta)


def merge_indexes(src_dirs: list, out_dir: str, spark=None,
                  drop_deletes: bool = False) -> dict | None:
    """Merge a SEQ-CONTIGUOUS run of sidecars into one (the size-tiered
    consolidation step — Kudu's rowset-merge compaction applied to the
    key index only, tablet/compaction_policy.h, WITHOUT rewriting data
    files: probe cost is per-sidecar, so bounding live sidecars bounds
    probe work while the parquet files stay put). ``src_dirs`` must be
    ordered ascending by commit seq and contiguous — no other live
    sidecar's seq may fall inside the window — or the replayed
    subtraction would misorder deletes (the caller,
    Table.merge_presence_sidecars, enforces both). All sources must
    hash the same (cols, types) tuple and carry seqs; returns the new
    meta or None. ``drop_deletes=True`` (the window includes the
    oldest live sidecar, so nothing older remains to subtract from)
    omits the delete family from the output.

    Small merges (≤ DRIVER_MERGE_MAX_BYTES of sources) run driver-side
    one merged shard at a time — peak memory is one shard's sources,
    not the index. Larger merges with a SparkSession fan the per-shard
    replays out to executors (same shared-storage write contract as
    the data files and the executor-side build): the driver handles
    metadata only, so merge IO scales with the cluster, not the
    driver — at 1e9 keys a merge moves ~8 GB through executors in
    shard-parallel tasks instead of serially through one process."""
    metas = [read_meta(d) for d in src_dirs]
    if any(m is None or m.get("tombstones") or m.get("del_unindexed")
           or m.get("seq") is None for m in metas):
        return None  # unmergeable: unknown delete keys / unordered
    key = (tuple(metas[0]["cols"]), tuple(metas[0]["types"]))
    if any((tuple(m["cols"]), tuple(m["types"])) != key for m in metas):
        return None
    seqs = [int(m["seq"]) for m in metas]
    if seqs != sorted(seqs):
        return None
    from kudu_spark.fs import env_for_root

    env = env_for_root(out_dir)
    total_rows = sum(int(m["rows"]) for m in metas)
    src_bytes = sum(int(m.get("bytes", 0)) for m in metas)
    ns_m = shards_for(total_rows)
    srcs = [(d, int(m["nshards"]), int(m.get("del_nshards", 0)))
            for d, m in zip(src_dirs, metas)]
    env.makedirs(out_dir)
    n_live = n_del = total = 0
    if (spark is not None and src_bytes > DRIVER_MERGE_MAX_BYTES and ns_m > 1
            and env.distributed):
        import pandas as pd

        def merge_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
            out = []
            for s in pdf["s"].tolist():
                live, dels = _replay_shard(int(s), srcs, ns_m)
                b = _write_shard(out_dir, int(s), live) if len(live) else 0
                if not drop_deletes and len(dels):
                    b += _write_shard(out_dir, int(s), dels, "del")
                out.append((int(s), b, len(live),
                            0 if drop_deletes else len(dels)))
            return pd.DataFrame(out, columns=["s", "b", "nl", "nd"])

        got = (
            spark.range(ns_m).selectExpr("cast(id as int) as s")
            .groupBy("s")
            .applyInPandas(merge_group, schema="s int, b long, nl long, nd long")
            .collect()
        )
        total = int(sum(r["b"] for r in got))
        n_live = int(sum(r["nl"] for r in got))
        n_del = int(sum(r["nd"] for r in got))
    else:
        for s in range(ns_m):
            live, dels = _replay_shard(s, srcs, ns_m)
            if len(live):
                total += _write_shard(out_dir, s, live)
                n_live += len(live)
            if not drop_deletes and len(dels):
                total += _write_shard(out_dir, s, dels, "del")
                n_del += len(dels)
    meta = {"version": _VERSION, "cols": list(key[0]), "types": list(key[1]),
            "seq": max(seqs), "nshards": ns_m, "rows": n_live, "bytes": total}
    if n_del:
        # the merged delete family routes by the SAME modulus as live
        meta.update(del_nshards=ns_m, del_rows=n_del)
    if any(m.get("mixed") for m in metas):
        # a mixed source's within-commit ambiguity survives the merge
        meta["mixed"] = True
    return _write_meta(out_dir, meta)


def total_bytes(specs) -> int:
    out = 0
    for dir_abs in {t[0] for t in specs}:
        meta = read_meta(dir_abs)
        out += int(meta.get("bytes", 0)) if meta else 0
    return out


# -- what the table asks of its live sidecars ---------------------------------
#
# Spark-free: each answer comes from the live FileEntry list (the
# ``bloom`` field names a file's sidecar, relative to the table root)
# and the sidecar metas.

# more live sidecars than this and the per-key probe work (one binary
# search per sidecar) stops being cheap; sidecar merging and
# compaction keep the count far below it in steady state
MAX_SIDECARS = 64


def resolve(root: str, files: list, schema, cols: list[str] | None = None,
            prefix_ok: bool = False):
    """How the live sidecars answer a key probe over ``cols``: returns
    ``(specs, probe_cols, exact)`` or, when they cannot answer, a str
    decline reason. ``specs`` are the (dir, nshards, seq, live) shard
    families to probe (probe_hashes resolves them newest-first);
    ``probe_cols`` is the hashed tuple the sidecars record — never the
    CURRENT pk_bloom_cols property, so an ALTER or a type change
    declines instead of fabricating false negatives. ``cols=None``
    asks about that tuple itself.

    ``exact`` is False when answers are a superset of the live set:
    unindexed delete keys, a mixed live+delete commit, seq-less
    sidecars alongside delete families, a hashed tuple reaching
    outside the PK on a table with delta commits (an upsert can retire
    a tuple value an older sidecar still lists), or — with
    ``prefix_ok`` — a sidecar tuple that is a proper prefix of
    ``cols``. Superset answers still have NO false negatives."""
    from kudu_spark.errors import SchemaError

    if not files:
        return [], list(cols or []), True  # empty table: nothing present
    if any(not f.bloom for f in files):
        return "files without sidecars"
    rels = sorted({f.bloom for f in files})
    if len(rels) > MAX_SIDECARS:
        return f"{len(rels)} sidecars exceed cap"
    specs, hashed = [], None
    superset = seqless = False
    for rel in rels:
        if not rel.endswith(SUFFIX):
            return f"legacy sidecar format: {rel}"
        full = os.path.join(root, rel)
        meta = read_meta(full)
        if meta is None:
            return f"unreadable sidecar meta: {rel}"
        if hashed is None:
            hashed = (list(meta["cols"]), list(meta["types"]))
        elif hashed != (list(meta["cols"]), list(meta["types"])):
            return "sidecars hash different column tuples"
        if meta.get("tombstones"):
            # pre-v2 meta-only marker: NOT provably delete-only, so the
            # live union could read a covered live key as absent
            return f"legacy tombstone marker {rel}: compact to rebuild"
        seqless |= meta.get("seq") is None
        seq = int(meta.get("seq") or 0)
        if int(meta.get("rows", 0)):
            specs.append((full, int(meta["nshards"]), seq, True))
        if int(meta.get("del_rows", 0)) and not meta.get("del_unindexed"):
            specs.append((full, int(meta["del_nshards"]), seq, False))
        superset |= bool(meta.get("del_unindexed") or meta.get("mixed"))
    if seqless and any(not t[3] for t in specs):
        # delete subtraction needs a total seq order: fall back to the
        # plain live union
        specs = [t for t in specs if t[3]]
        superset = True
    probe_cols, probe_types = hashed
    exact = not (superset or (not set(probe_cols) <= set(schema.pk)
                              and any(f.kind == "delta" for f in files)))
    if not specs:
        return [], probe_cols, exact  # pure-delete history: nothing present
    try:
        if [schema.col(c).type for c in probe_cols] != probe_types:
            return "sidecar column types drifted"
    except SchemaError:
        return "sidecar column dropped from schema"
    cols = probe_cols if cols is None else list(cols)
    if probe_cols == cols:
        return specs, probe_cols, exact
    if prefix_ok and cols[: len(probe_cols)] == probe_cols:
        return specs, probe_cols, False
    return f"sidecar tuple {probe_cols} does not serve cols {cols}"


def summary(root: str, files: list, schema) -> dict:
    """The presence keys of Table.statistics(): live sidecar count and
    index bytes, the fraction of live files a sidecar covers (below
    1.0 the probe is off), and whether the probe answers its own tuple
    exactly — resolve()'s own verdict, so the two cannot disagree."""
    rels = sorted({f.bloom for f in files if f.bloom})
    r = resolve(root, files, schema)
    return {
        "presence_sidecars": len(rels),
        "presence_bytes": sum(
            int((read_meta(os.path.join(root, rel)) or {}).get("bytes", 0))
            for rel in rels if rel.endswith(SUFFIX)),
        "presence_coverage": (sum(1 for f in files if f.bloom) / len(files)
                              if files else 1.0),
        "presence_exact": not isinstance(r, str) and r[2],
    }


def merge_window(root: str, files: list, max_live: int):
    """The sidecars Table.merge_presence_sidecars folds when more than
    ``max_live`` are live: ``(rels ascending by seq, drop_deletes)``,
    or None. The window must be CONTIGUOUS in commit seq — no other
    live sidecar's seq inside it — because merge_indexes REPLAYS
    live/delete keys in seq order; a window that skipped an
    interleaved delete commit would revive its deleted keys with a
    higher attributed seq. Sidecars with unindexed delete keys or no
    seq cannot be replayed and split the runs. Within that the pick is
    size-tiered: the cheapest window that restores the cap, extended
    while the next neighbor is no bigger than what the merge already
    folds (bounded write amplification, log-many rewrites per key).
    ``drop_deletes`` is True when the window covers the oldest live
    sidecar: nothing older is left to subtract from.

    Declines while any live file lacks a sidecar: a bloom-less commit
    (failed build, or shed by fsck --repair) could sit seq-wise INSIDE
    the window without being replayed, and its deletes would later
    read 'present' with exact=True. Probes decline there anyway;
    compaction restores coverage and re-enables merging."""
    if any(not (f.bloom and f.bloom.endswith(SUFFIX)) for f in files):
        return None
    items = []  # (seq, bytes, rel, mergeable)
    for rel in dict.fromkeys(f.bloom for f in files):
        meta = read_meta(os.path.join(root, rel))
        if meta is None:
            return None  # unreadable sidecar: probes decline anyway
        items.append((int(meta.get("seq", -1)), int(meta.get("bytes", 0)), rel,
                      not (meta.get("tombstones") or meta.get("del_unindexed")
                           or meta.get("seq") is None)))
    if len(items) <= max_live:
        return None
    items.sort(key=lambda x: x[0])
    runs: list[list] = [[]]
    for it in items:
        if it[3]:
            runs[-1].append(it)
        else:
            runs.append([])
    need = len(items) - max_live + 1
    best = None
    for run in (r for r in runs if len(r) >= 2):
        length = min(need, len(run))
        for i0 in range(len(run) - length + 1):
            b = sum(x[1] for x in run[i0:i0 + length])
            j = i0 + length
            while j < len(run) and run[j][1] <= b:
                b += run[j][1]
                j += 1
            key = (-(j - i0), b)  # restore the cap first, then cheap
            if best is None or key < best[0]:
                best = (key, run[i0:j])
    if best is None:
        return None  # nothing contiguous to merge
    pick = best[1]
    return [x[2] for x in pick], pick[0][0] == items[0][0]


def sync_seq(root: str, entries: list) -> None:
    """Re-stamp each sidecar's meta ``seq`` to the max seq of the
    ``entries`` it covers, before a commit publishes them: a commit
    retry bumps entry seqs, and a STALE meta seq would misorder the
    probe's delete subtraction against commits that landed in between.
    Race-free — nothing references the sidecar until the commit lands.
    No-op (one cached meta read) when they already agree."""
    groups: dict[str, int] = {}
    for e in entries:
        if e.bloom and e.bloom.endswith(SUFFIX):
            groups[e.bloom] = max(groups.get(e.bloom, 0), e.seq)
    for rel, seq in groups.items():
        d = os.path.join(root, rel)
        meta = read_meta(d)
        if meta is not None and int(meta.get("seq", -1)) != seq:
            _write_meta(d, dict(meta, seq=seq))


def audit(dir_abs: str) -> bool:
    """fsck's sidecar check: the meta reads from storage — not the
    process cache — and the shard files hold exactly the bytes it
    records. A truncated or missing shard would otherwise surface only
    as a loud probe-task failure later."""
    from kudu_spark.fs import env_for_root

    env = env_for_root(dir_abs)
    try:
        meta = json.loads(env.read_bytes(os.path.join(dir_abs, META_NAME)))
        have = sum(env.size(os.path.join(dir_abs, n))
                   for n in env.listdir(dir_abs) if n.endswith(".i64"))
    except (OSError, ValueError):
        return False
    return have == int(meta.get("bytes", 0))

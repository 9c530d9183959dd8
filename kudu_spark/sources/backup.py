"""Backup and restore (≈ java/kudu-backup).

A backup is a directory of parquet + a JSON metadata sidecar, in a
graph keyed by (from_version, to_version] exactly like kudu-backup's
time-window graph:

  {root}/{table}/{from}-{to}/rows/   parquet data
  {root}/{table}/{from}-{to}/kudu-backup.json

- Full backup (KuduBackup.scala): scan at HEAD, ``from = 0``.
- Incremental (KuduBackupRDD.scala:74-78 diffScan): the collapsed
  change set since the last backup's ``to_version``, rows tagged
  ``_is_deleted`` (IS_DELETED virtual column, common.proto:60).
- Restore (KuduRestore.scala): create the table from the full
  backup's metadata, then replay incrementals in window order —
  upserts for live rows, deletes for tombstones (RowAction mapping,
  KuduBackupRDD.scala:150-164).

Scale: backup writes are straight DataFrame→parquet jobs (executor
parallel); restore replays each window through the bulk mutation
path. Nothing iterates rows on the driver. The backup root's METADATA
goes through the storage Env (fs.py), so any fsspec-served URI works
for the sidecars; the parquet rows are written/read by Spark
directly, so the backup root must be a Spark-readable scheme (local,
file://, hdfs://, s3a://, ... — i.e. anywhere a real backup lives).
"""

from __future__ import annotations

import json
import os

from kudu_spark import vector
from kudu_spark.fs import env_for_root
from kudu_spark.streaming.sink import apply_changes

META_NAME = "kudu-backup.json"


def _window_dir(root: str, table_name: str, lo: int, hi: int) -> str:
    return os.path.join(root, table_name, f"{lo:012d}-{hi:012d}")


def _windows(root: str, table_name: str) -> list[tuple[int, int, str]]:
    env = env_for_root(root)
    tdir = os.path.join(root, table_name)
    out = []
    for name in sorted(env.listdir(tdir)):
        parts = name.split("-")
        if len(parts) == 2 and env.exists(os.path.join(tdir, name, META_NAME)):
            out.append((int(parts[0]), int(parts[1]), os.path.join(tdir, name)))
    return out


def backup(table, backup_root: str, incremental: bool | None = None) -> dict:
    """Write a backup window. ``incremental=None`` auto-picks: full if
    no prior backup exists, else incremental from the last one."""
    st = table.state()
    prior = _windows(backup_root, table.name)
    if incremental is None:
        incremental = bool(prior)
    if incremental and not prior:
        raise ValueError("incremental backup requires a prior full backup")
    # chain from the newest backed-up point (max TO version — the name
    # sort puts re-baselining fulls before older incrementals)
    lo = max(w[1] for w in prior) if incremental else 0
    hi = st.version
    if incremental and lo == hi:
        return {"skipped": "no changes", "from_version": lo, "to_version": hi}
    out = _window_dir(backup_root, table.name, lo, hi)
    df = table.diff_scan(lo, hi) if incremental else table.scan(version=hi)
    df.write.mode("overwrite").parquet(os.path.join(out, "rows"))
    meta = {
        "table": table.name,
        "type": "incremental" if incremental else "full",
        "from_version": lo,
        "to_version": hi,
        "schema": st.schema.to_json(),
        "partition_spec": st.partition_spec.to_json(),
        # table options travel with the backup (kudu-backup restores
        # extra-configs, TableMetadata.scala) — without them a restored
        # table silently loses pk_bloom_cols (its O(batch) presence
        # probes) and its compaction policy
        "props": {k: str(v) for k, v in (st.props or {}).items()},
    }
    # root-level model artifacts travel too: a vector_cell_cols table
    # restored without its frozen centroid model (_ivf_<col>.json)
    # would keep the property but silently stop deriving stored cells
    # and refuse ann_topk. The artifact is k x dims doubles — small
    # enough to embed in the window metadata, so it stays atomic with
    # the schema/props it belongs to (and a retrain between windows is
    # restored as-of the window being replayed).
    artifacts = vector.artifacts(table, st)
    if artifacts:
        meta["artifacts"] = artifacts
    env_for_root(backup_root).write_bytes(
        os.path.join(out, META_NAME), json.dumps(meta, indent=2).encode())
    return meta


def _chain(wins: list[tuple[int, int, str]],
           through_version: int | None = None) -> list[tuple[int, int, str]]:
    """The restore chain: the latest eligible FULL backup plus the
    contiguous incrementals after it — kudu-backup's graph walk
    (BackupGraph.restorePath). Multiple fulls may coexist (periodic
    re-baselining); only one seeds a restore."""
    fulls = [w for w in wins if w[0] == 0]
    if not fulls:
        raise ValueError("no full backup in graph")
    eligible = [w for w in fulls if through_version is None or w[1] <= through_version]
    if not eligible:
        # seeding from a NEWER full would silently restore data beyond
        # the requested point in time
        raise ValueError(
            f"no full backup at or before version {through_version}; "
            f"earliest full covers through {min(w[1] for w in fulls)}"
        )
    base = max(eligible, key=lambda w: w[1])
    chain = [base]
    by_lo: dict[int, list] = {}
    for w in wins:
        if w[0] != 0:
            by_lo.setdefault(w[0], []).append(w)
    while True:
        nxt = by_lo.get(chain[-1][1])
        if not nxt:
            return chain
        chain.append(min(nxt, key=lambda w: w[1]))


def prune_backups(backup_root: str, table_name: str) -> int:
    """Delete backup windows no restore needs — everything outside the
    latest full backup's chain (kudu-backup-tools' GC semantics).
    Returns the number of windows removed."""
    env = env_for_root(backup_root)
    wins = _windows(backup_root, table_name)
    if not wins:
        return 0
    keep = {path for _, _, path in _chain(wins)}
    removed = 0
    for _lo, _hi, path in wins:
        if path not in keep:
            env.rmtree(path)
            removed += 1
    return removed


def restore(engine, backup_root: str, table_name: str,
            new_name: str | None = None, through_version: int | None = None):
    """Recreate a table from its backup graph: the latest eligible full
    backup, then its incrementals in window order. ``through_version``
    stops early (point-in-time restore to a backed-up window boundary,
    seeding from an older full when needed)."""
    from kudu_spark.meta import Schema
    from kudu_spark.table import AUTO_INC_COL

    all_wins = _windows(backup_root, table_name)
    if not all_wins or all_wins[0][0] != 0:
        raise ValueError(f"no full backup for {table_name} under {backup_root}")
    wins = _chain(all_wins, through_version)
    spark = engine.spark
    meta = json.loads(env_for_root(backup_root).read_bytes(
        os.path.join(wins[0][2], META_NAME)))
    sch = Schema.from_json(meta["schema"])
    pk = [c for c in sch.pk if c != AUTO_INC_COL]
    fields = [(c.name, c.type, c.nullable) for c in sch.columns if c.name != AUTO_INC_COL]
    ps = meta.get("partition_spec", {})
    hash_partitions = [
        {"columns": h["columns"], "buckets": h["buckets"], "seed": h.get("seed", 0)}
        for h in ps.get("hash", [])
    ] or None
    rng = ps.get("range") or {}
    range_partition = None
    if rng.get("columns"):
        range_partition = {"columns": rng["columns"],
                           "ranges": [list(r) for r in rng.get("ranges", [])]}
    elif rng.get("column"):
        range_partition = {"column": rng["column"],
                           "ranges": [list(r) for r in rng.get("ranges", [])]}
    dst = engine.create_table(
        new_name or table_name,
        fields,
        pk=pk,
        hash_partitions=hash_partitions,
        range_partition=range_partition,
        immutable_cols=[c.name for c in sch.columns if c.immutable] or None,
        non_unique_pk=AUTO_INC_COL in sch.pk,
    )
    benv = env_for_root(backup_root)
    applied_props: dict = {}
    for lo, hi, path in wins:
        if through_version is not None and lo >= through_version:
            break
        # publish this window's model artifacts AND props BEFORE
        # replaying its rows, so every replayed write — including the
        # full window's first insert — already builds presence
        # sidecars, honors the compaction policy, and derives stored
        # cells from the same frozen centroids/options the source
        # table used in that window. Props set AFTER the full backup
        # (e.g. vector_cell_cols from a later train_vector_cells)
        # would otherwise be lost even though the artifact restored;
        # internal counters (auto_inc_next) stay with the new table.
        # (Props REMOVED between windows stay set — the alter surface
        # is additive here; removal between backups is rare and
        # harmless for every prop we ship.)
        wmeta = json.loads(benv.read_bytes(os.path.join(path, META_NAME)))
        wprops = {k: v for k, v in (wmeta.get("props") or {}).items()
                  if k != "auto_inc_next"}
        if wprops != applied_props:
            alt = engine.alter_table(dst.name)
            for k, v in wprops.items():
                alt = alt.set_property(k, v)
            alt.apply()
            dst = engine.table(dst.name)
            applied_props = wprops
        vector.publish_artifacts(dst, wmeta.get("artifacts") or {})
        df = spark.read.parquet(os.path.join(path, "rows"))
        if AUTO_INC_COL in df.columns:
            df = df.drop(AUTO_INC_COL)
        if lo == 0:
            if not df.isEmpty():
                dst.insert(df)
        else:
            apply_changes(dst, df)
    return dst

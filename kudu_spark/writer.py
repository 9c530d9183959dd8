"""Writer sessions and transactions.

≈ KuduSession flush modes (client.h:2316-2321, python mirror
python/kudu/client.pyx:1658-1810) and KuduTransaction
(client.h:445-545). A session buffers row ops driver-side and flushes
them as one commit per batch; a transaction accumulates ops across
flushes and publishes ONE atomic commit at commit() time — Kudu's
distributed-txn machinery collapses into all-or-nothing file publish.

Rows applied through a session carry an apply-order index so that
last-write-wins within a batch matches Kudu's apply order exactly
(fuzz-itest.cc:122-141 relies on this).
"""

from __future__ import annotations

import dataclasses
import os
import re
from enum import Enum

from pyspark.sql import functions as F

from kudu_spark.errors import (
    ConcurrentCommitError,
    DuplicateKeyError,
    FlushFailedError,
    KuduSparkError,
)
from kudu_spark.meta import head_version as _head_version
from kudu_spark.table import AUTO_INC_COL, Table, seq_for


class FlushMode(Enum):
    AUTO_FLUSH_SYNC = "sync"  # every apply() flushes immediately
    AUTO_FLUSH_BACKGROUND = "background"  # flush when buffer reaches limit
    MANUAL_FLUSH = "manual"  # only on flush()


_OPS = ("insert", "insert_ignore", "upsert", "upsert_ignore",
        "update", "update_ignore", "delete", "delete_ignore")


class OpError:
    """One failed row operation, held in the session's error collector
    (≈ KuduError, client.h:2553-2580: the failed op plus its status).
    ``row`` is the dict passed to apply(); ``status`` the failure
    reason, prefixed Kudu-style ('Already present: ...',
    'Not found: ...', 'Invalid argument: ...')."""

    __slots__ = ("op", "row", "status")

    def __init__(self, op: str, row: dict, status: str):
        self.op = op
        self.row = dict(row)
        self.status = status

    def failed_op(self) -> tuple[str, dict]:
        """(op kind, row) — KuduError::failed_op() parity."""
        return (self.op, self.row)

    def __repr__(self) -> str:
        return f"OpError({self.op}, {self.row!r}, {self.status!r})"


class Session:
    """Buffered row-op session on one table.

    apply(op, row_dict) buffers; flush() groups consecutive ops of the
    same kind into batches and executes them in order. Each flush is
    one or more commits (one per op-kind run), preserving apply order.

    Per-row failures during a buffered flush (INSERT of a present key,
    UPDATE/DELETE of an absent key, NULL in a PK column) do NOT abort
    the batch: the failed ops land in a bounded error collector and
    every other row applies, after which flush() raises
    FlushFailedError — Kudu's session semantics (Flush() returns
    IOError and the per-op errors are read back via GetPendingErrors,
    client.h:2316-2420, session-internal.cc). In AUTO_FLUSH_SYNC mode
    errors surface synchronously from apply() instead, exactly as the
    reference client returns them from Apply()."""

    def __init__(self, table: Table, flush_mode: FlushMode = FlushMode.MANUAL_FLUSH,
                 buffer_rows: int = 10000, error_buffer_ops: int = 1000):
        self.table = table
        self.flush_mode = flush_mode
        self.buffer_rows = buffer_rows
        # capacity in ops rather than the reference's bytes
        # (SetErrorBufferSpace, client.h:2391) — rows here are small
        # driver dicts, so an op count is the honest unit
        self.error_buffer_ops = error_buffer_ops
        self._buf: list[tuple[str, dict]] = []
        self._buf_started = 0.0
        self._flush_interval_s: float | None = None
        self._errors: list[OpError] = []
        self._error_overflow = False
        self._metrics = {
            k: 0 for k in (
                "successful_inserts", "insert_ignore_errors",
                "successful_upserts", "upsert_ignore_errors",
                "successful_updates", "update_ignore_errors",
                "successful_deletes", "delete_ignore_errors",
            )
        }

    def has_pending_operations(self) -> bool:
        """Ops applied but not yet flushed (KuduSession::HasPendingOperations)."""
        return bool(self._buf)

    def get_write_op_metrics(self) -> dict:
        """Cumulative write-op metrics since the session began — the
        reference's key names exactly (GetWriteOpMetrics,
        client-test.cc:3377-3395): successful_<op>s counts ops that
        applied; <op>_ignore_errors counts ops an IGNORE variant
        swallowed (present key on INSERT_IGNORE, absent key on
        UPDATE/DELETE_IGNORE, immutable-cell change on
        UPSERT_IGNORE)."""
        return dict(self._metrics)

    # -- error collector (GetPendingErrors / CountPendingErrors parity) ----------

    def set_error_buffer_capacity(self, n_ops: int) -> None:
        """≈ KuduSession::SetErrorBufferSpace (capacity in ops, not
        bytes). Shrinking below the current backlog only affects new
        errors."""
        if n_ops < 1:
            raise KuduSparkError("error buffer capacity must be >= 1")
        self.error_buffer_ops = n_ops

    def count_pending_errors(self) -> int:
        return len(self._errors)

    def get_pending_errors(self) -> tuple[list[OpError], bool]:
        """Drain the collector: returns (errors, overflowed) and
        resets both — python/kudu/client.pyx:1816-1840 semantics."""
        errs, self._errors = self._errors, []
        over, self._error_overflow = self._error_overflow, False
        return errs, over

    def _collect_error(self, op: str, row: dict, status: str) -> None:
        if len(self._errors) >= self.error_buffer_ops:
            self._error_overflow = True
            return
        self._errors.append(OpError(op, row, status))

    def set_mutation_buffer_flush_interval(self, millis: int) -> None:
        """≈ KuduSession::SetMutationBufferFlushInterval
        (client.pyx:1742-1763): in AUTO_FLUSH_BACKGROUND mode, a
        buffer older than this also flushes even below buffer_rows —
        for trickle streams that would otherwise sit buffered
        indefinitely. Piggy-backed on apply() rather than a timer
        thread: a driver-side session has no concurrent flusher, so
        the check runs at the only moment a flush could matter."""
        if millis < 0:
            raise KuduSparkError("flush interval must be >= 0")
        self._flush_interval_s = millis / 1000.0

    def apply(self, op: str, row: dict) -> None:
        import time

        if op not in _OPS:
            raise KuduSparkError(f"unknown op {op}")
        if not self._buf:
            self._buf_started = time.monotonic()
        self._buf.append((op, dict(row)))
        if self.flush_mode == FlushMode.AUTO_FLUSH_SYNC:
            self.flush()
        elif self.flush_mode == FlushMode.AUTO_FLUSH_BACKGROUND and (
            len(self._buf) >= self.buffer_rows
            or (
                self._flush_interval_s is not None
                and time.monotonic() - self._buf_started >= self._flush_interval_s
            )
        ):
            self.flush()

    def insert(self, row: dict) -> None:
        self.apply("insert", row)

    def upsert(self, row: dict) -> None:
        self.apply("upsert", row)

    def update(self, row: dict) -> None:
        self.apply("update", row)

    def delete(self, row: dict) -> None:
        self.apply("delete", row)

    def flush(self) -> list[int]:
        """Execute buffered ops in apply order; returns commit versions.

        Buffered modes split each error-mode insert/update/delete run
        into applying rows and per-row failures BEFORE the table op
        runs: failures go to the error collector, the rest commit, and
        FlushFailedError is raised at the end if anything failed —
        never aborting unfailed rows (session-internal.cc ApplyError
        handling). Statement-level errors (unknown column, immutable
        column) still raise directly, as in the reference client.

        Concurrency note: the split probes a snapshot, so a key a
        CONCURRENT writer inserts between the probe and this run's
        commit surfaces as the table op's own batch-level
        DuplicateKeyError (via _commit_revalidated's re-run), not as a
        collected row error — the engine revalidates per batch where
        the reference revalidates per row on the tablet leader."""
        if not self._buf:
            return []
        buf, self._buf = self._buf, []
        versions = []
        # group consecutive same-op runs to preserve inter-op ordering;
        # a run's rows set the same columns, so a row leaving a column
        # unset gets what it gets alone (the default, or the stored
        # value on update), not the NULL a union of columns would give
        runs: list[tuple[str, frozenset | None, list[dict]]] = []
        for op, row in buf:
            cols = None if op.startswith("delete") else frozenset(row)
            if runs and runs[-1][:2] == (op, cols):
                runs[-1][2].append(row)
            else:
                runs.append((op, cols, [row]))
        sync = self.flush_mode == FlushMode.AUTO_FLUSH_SYNC
        n_failed = 0
        for op, _, rows in runs:
            # fresh state per run: a prior run in this flush may have
            # inserted the key a later update targets
            st = self.table.state()
            ignore = op.endswith("_ignore")
            base = op[: -len("_ignore")] if ignore else op
            # key-existence split: buffered error-mode ops collect
            # failures; IGNORE ops (any mode — splitting them never
            # changes visible behavior) drop-and-count the swallowed
            # rows for the metrics map
            if base in ("insert", "update", "delete") and (ignore or not sync):
                rows, nerr, n_ignored = self._split_failed(st, op, rows)
                n_failed += nerr
                if n_ignored:
                    self._metrics[f"{base}_ignore_errors"] += n_ignored
                if not rows:
                    continue
            if op == "upsert_ignore":
                self._metrics["upsert_ignore_errors"] += (
                    self._count_immutable_skips(st, rows)
                )
            self._run_op(st, op, rows, versions)
            self._metrics[f"successful_{base}s"] += len(rows)
        if n_failed:
            raise FlushFailedError(
                f"failed to flush data: {n_failed} row error(s); details "
                f"are available via Session.get_pending_errors()"
            )
        return versions

    def _run_op(self, st, op: str, rows: list[dict], versions: list[int]) -> None:
        """Run one same-op run as a table op. An upsert run is written
        from the rows in hand when the driver write step takes it
        (``Table._upsert_rows``); every other run becomes a frame with
        an apply-order ``__row_idx``."""
        method = getattr(self.table, op)
        cols = self._cols_for(st, op, rows)
        data = [tuple(r.get(c) for c in cols) for r in rows]
        if op.startswith("upsert"):
            # no immutable column is set (the driver step declines
            # those), so UPSERT_IGNORE writes as UPSERT does
            v = self.table._upsert_rows(cols, data)
            if v is not None:
                versions.append(v)
                return
        # char/varchar cannot appear in a frame's schema; the table op's
        # write cast enforces the declared length
        ddl = re.sub(r"(?:var)?char\s*\(\s*\d+\s*\)", "string", ", ".join(
            f"`{c}` {st.schema.col(c).type}" for c in cols))
        df = self.table.spark.createDataFrame(
            [r + (i,) for i, r in enumerate(data)], ddl + ", __row_idx bigint")
        if op.startswith("insert"):
            # _split_failed already dropped in-run duplicate keys; upsert
            # and update keep the apply order so the last mention wins
            df = df.drop("__row_idx")
        versions.append(method(df))

    def _split_failed(self, st, op: str,
                      rows: list[dict]) -> tuple[list[dict], int, int]:
        """Partition one run into (rows to apply, collected-error
        count, ignored count). Error-mode ops collect per-row
        failures: present key on INSERT (Kudu Status::AlreadyPresent),
        absent key on UPDATE/DELETE (Status::NotFound), NULL PK
        (Status::InvalidArgument). IGNORE variants drop-and-count the
        same rows instead (the swallowed-op metric), except NULL PKs,
        which stay in the batch so the table raises its usual
        SchemaError — ignore covers key misses, not malformed rows.
        The probe is the same presence-index-short-circuited bounded
        key probe the table ops use — O(batch), not O(table)."""
        pk = st.schema.pk
        ignore = op.endswith("_ignore")
        base = op[: -len("_ignore")] if ignore else op
        if base == "insert" and AUTO_INC_COL in pk:
            return rows, 0, 0  # non-unique PK: inserts cannot collide
        kept: list[dict] = []
        errs: list[tuple[dict, str]] = []
        ignored = 0
        seen: set[tuple] = set()
        cand: list[tuple[tuple, dict]] = []
        for row in rows:
            key = tuple(row.get(c) for c in pk)
            if any(k is None for k in key):
                if ignore:
                    kept.append(row)  # table raises SchemaError
                else:
                    errs.append((row, "Invalid argument: NULL value for primary key column"))
            elif base == "insert" and key in seen:
                if ignore:
                    ignored += 1
                else:
                    errs.append((row, "Already present: key already present (earlier op in batch)"))
            else:
                seen.add(key)
                cand.append((key, row))
        present = self._present_key_set(st, [k for k, _ in cand]) if cand else set()
        dead: set[tuple] = set()  # keys a kept DELETE in THIS run removes
        for key, row in cand:
            hit = key in present and key not in dead
            ok = not hit if base == "insert" else hit
            if ok:
                kept.append(row)
                if base == "delete":
                    # sequential apply order: a second DELETE of the
                    # same key in one buffer is NotFound (Kudu applies
                    # ops one by one, fuzz-itest.cc:122-141)
                    dead.add(key)
            elif ignore:
                ignored += 1
            elif base == "insert":
                errs.append((row, "Already present: key already present"))
            else:
                errs.append((row, "Not found: key not found"))
        for row, status in errs:
            self._collect_error(op, row, status)
        return kept, len(errs), ignored

    def _count_immutable_skips(self, st, rows: list[dict]) -> int:
        """UPSERT_IGNORE ops whose change to an immutable cell of an
        EXISTING row was swallowed (tablet_metrics.cc
        upsert_ignore_errors). Zero-cost unless the table declares
        immutable columns and the batch mentions one."""
        imm = [c.name for c in st.schema.columns
               if c.immutable and any(c.name in r for r in rows)]
        if not imm or not st.files:
            return 0
        pk = st.schema.pk
        cols = list(pk) + imm
        # a per-row flag per immutable column: only an op that SETS the
        # cell can have its change ignored (unset cells aren't written)
        ddl = ", ".join(f"`{c}` {st.schema.col(c).type}" for c in cols)
        ddl += ", " + ", ".join(f"`__has_{c}` boolean" for c in imm)
        # per OP, not per key: two ops on one key each count
        # (client-test.cc DoVerifyMetrics counts every Apply)
        bdf = self.table.spark.createDataFrame(
            [tuple(r.get(c) for c in cols) + tuple(c in r for c in imm)
             for r in rows],
            ddl,
        )
        existing = self.table._snapshot_overlapping(st, bdf).select(
            *pk, *[F.col(c).alias(f"__old_{c}") for c in imm]
        )
        joined = bdf.join(existing, on=pk, how="inner")
        changed = None
        for c in imm:
            cond = F.col(f"__has_{c}") & ~F.col(f"__old_{c}").eqNullSafe(F.col(c))
            changed = cond if changed is None else (changed | cond)
        return joined.where(changed).count()

    def _present_key_set(self, st, keys: list[tuple]) -> set[tuple]:
        """Which of ``keys`` (PK tuples, apply-order) exist in the
        table right now: one ``Table._live_keys`` probe per run, or one
        ``Table._present_keys`` probe past ``PROBE_KEYS_MAX`` keys.
        Matching is by row index, so caller-supplied values never need
        normalizing against Spark's types."""
        if not st.files or not keys:
            return set()
        if len(keys) <= self.table.PROBE_KEYS_MAX:
            live = self.table._live_keys(st, keys)
            return {k for k, ok in zip(keys, live) if ok}
        ddl = ", ".join(f"`{c}` {st.schema.col(c).type}" for c in st.schema.pk)
        kdf = self.table.spark.createDataFrame(
            [k + (i,) for i, k in enumerate(keys)], ddl + ", __i bigint"
        )
        hit = self.table._present_keys(st, kdf, len(keys)).select("__i").collect()
        return {keys[r["__i"]] for r in hit}

    def _cols_for(self, st, op: str, rows: list[dict]) -> list[str]:
        present = set()
        for r in rows:
            present.update(r.keys())
        unknown = present - set(st.schema.names)
        if unknown:
            raise KuduSparkError(f"unknown columns {sorted(unknown)}")
        if op.startswith("delete"):
            return [c for c in st.schema.names if c in present and c in st.schema.pk] or st.schema.pk
        return [c for c in st.schema.names if c in present]

    def __enter__(self):
        return self

    def __exit__(self, exc_type, *a):
        if exc_type is None:
            self.flush()


class Transaction:
    """Accumulates DataFrame-level ops; commit() publishes them as ONE
    atomic log entry (all-or-nothing visibility). Rollback discards
    staged files. Mirrors KuduTransaction::Commit/Rollback.

    INSERT and UPSERT stage through the same validation and file writes
    as ``Table.insert``/``Table.upsert``: Kudu checks a row the same way
    alone, in a session or in a transaction (row_operations.cc,
    tablet/tablet.cc:836). The transaction adds only its own checks: an
    INSERT key must not be staged by an earlier insert of the same
    transaction, and staged inserts are rechecked at commit when other
    writers committed since they were staged: a key now present raises
    DuplicateKeyError; on a non-unique-PK table, ids another writer
    reserved meanwhile raise ConcurrentCommitError. DELETE is blind: it writes
    tombstones without ``Table.delete``'s absent-key check, because a
    key inserted earlier in the same transaction is not in the snapshot
    that check reads; a tombstone for an absent key deletes nothing."""

    def __init__(self, table: Table):
        self.table = table
        self._staged: list[tuple] = []  # (op, entries)
        self._insert_entries: list = []  # base files staged by insert()
        # non-unique-PK tables: (the table's auto_inc_next when this txn
        # first reserved ids, the next id past its reservations)
        self._ids: tuple[int, int] | None = None
        self._stage_version: int | None = None  # state the first op saw
        self._open = True

    def _stage(self, op: str, stage) -> list:
        """Run ``stage(st, seq)`` against fresh state at this op's
        sub-seq of the coming commit; record and return its entries."""
        if not self._open:
            raise KuduSparkError("transaction is closed")
        st = self.table.state()
        if self._stage_version is None:
            self._stage_version = st.version
        if self._ids:
            # a later insert continues past the ids earlier ones reserved
            st = dataclasses.replace(
                st, props={**st.props, **_reserved_props(st, self._ids)})
        entries = stage(st, seq_for(st.version + 1, sub=len(self._staged)))
        self._staged.append((op, entries))
        return entries

    def insert(self, df) -> None:
        """Txn INSERT: the checks of ``Table.insert``, and a PK staged
        by an earlier insert of this transaction is a duplicate too
        (the base-uniqueness invariant merge-on-read relies on)."""

        def stage(st, seq):
            entries, props = self.table._stage_insert(st, df, "error", seq)
            if props:  # non-unique PK: fresh ids never collide
                base = self._ids[0] if self._ids else int(st.props.get("auto_inc_next", 1))
                self._ids = (base, props["auto_inc_next"])
            elif self._insert_entries and entries:
                hit = (
                    _staged_keys(self.table, st, entries)
                    .join(_staged_keys(self.table, st, self._insert_entries),
                          on=st.schema.pk, how="left_semi")
                    .limit(1).collect()
                )
                if hit:
                    self.table._discard(entries)
                    raise DuplicateKeyError(
                        f"key already inserted in this transaction: {hit[0].asDict()}"
                    )
            return entries

        self._insert_entries += self._stage("insert", stage)

    def upsert(self, df) -> None:
        self._stage("upsert", lambda st, seq: self.table._stage_upsert(st, df, "error", seq))

    def delete(self, df) -> None:
        self._stage("delete", lambda st, seq: self.table._write_files(
            self.table._tombstones(st, df), st, seq, "delta"))

    def commit(self) -> int:
        if not self._open:
            raise KuduSparkError("transaction is closed")
        self._open = False
        v = self._publish()
        # inline maintenance, like the direct mutation paths (not run
        # from EngineTransaction._publish calls: a coordinator must not
        # stretch the window between participant commits)
        self.table._maybe_auto_compact(
            sum(e.bytes for _, es in self._staged for e in es if e.kind == "delta")
        )
        return v

    def _publish(self, txn_id: str | None = None) -> int:
        """Revalidate and append this table's txn commit (the
        single-table commit body; EngineTransaction drives one call
        per participant, tagging each with the coordinator's id)."""
        entries = [e for _, es in self._staged for e in es]
        attempts = 5
        while True:
            st = self.table.state()
            # inserts were validated against the snapshot at stage
            # time; if other writers committed since, recheck before
            # publishing (Kudu txns likewise fail at commit on
            # conflicting rows)
            if self._insert_entries and st.version != self._stage_version:
                err = _publish_conflict(self.table, st, self._insert_entries, self._ids)
                if err:
                    self.rollback()  # reclaim the staged files
                    raise err
                self._stage_version = st.version
            try:
                return self.table._commit(
                    st, "txn", entries, retries=1,
                    props=_reserved_props(st, self._ids),
                    extra={"txn_id": txn_id} if txn_id else None,
                )
            except ConcurrentCommitError:
                attempts -= 1
                if attempts <= 0:
                    raise

    def rollback(self) -> None:
        self._open = False
        for _, entries in self._staged:
            self.table._discard(entries)  # data files + bloom sidecars
        self._staged = []


def _staged_keys(table: Table, st, entries):
    """The primary keys in staged (unpublished) files."""
    return table._read_files(st, entries, with_seq=False).select(*st.schema.pk)


def _reserved_props(st, ids) -> dict | None:
    """The ``auto_inc_next`` a txn commit publishes: past every id the
    table and the txn's staged inserts (``Transaction._ids``) reserved,
    never moved back."""
    if not ids:
        return None
    return {"auto_inc_next": max(int(st.props.get("auto_inc_next", 1)), ids[1])}


def _publish_conflict(table: Table, st, base_entries, ids) -> Exception | None:
    """The error that stops staged inserts (base-kind files) from
    publishing at ``st``, or None. On a non-unique-PK table: another
    writer moved ``auto_inc_next`` since the txn reserved its ids, so
    its rows may hold the same ids. Otherwise: a staged key that another
    writer committed since (the base-uniqueness invariant merge-on-read
    relies on). The commit-time recheck, re-run at recovery because the
    crash window let other writers in."""
    if ids and int(st.props.get("auto_inc_next", 1)) != ids[0]:
        return ConcurrentCommitError(
            "auto-increment ids reserved concurrently during transaction")
    if AUTO_INC_COL in st.schema.pk:
        return None  # ids reserved from an unmoved counter never collide
    hit = table._present_keys(st, _staged_keys(table, st, base_entries),
                              sum(e.rows for e in base_entries)).limit(1).collect()
    if hit:
        return DuplicateKeyError(
            f"key inserted concurrently during transaction: {hit[0].asDict()}")
    return None


def _txn_ops(root: str, txn_id: str) -> set:
    """Ops already recorded for this txn in a table's log ({'txn'},
    {'txn','txn_abort'}, or empty) — the idempotency probe recovery
    and compensation key off."""
    from kudu_spark.meta import read_log

    return {c["op"] for c in read_log(root) if c.get("txn_id") == txn_id}


def _write_cdc_repair(table: Table, paths: list[str], txn_id: str) -> list[str]:
    """Post-abort images for every key the aborted txn's files touch,
    written under ``_cdc/`` for the change feed to emit as retraction
    events (streaming/source.py): keys still present after the abort
    re-emit their restored row (__deleted=false), keys absent emit a
    tombstone (__deleted=true). Without these a CDC consumer keeps the
    aborted txn's phantom rows forever. Returns table-relative repair
    paths. Cost is O(txn keys) — the snapshot side is file-pruned by
    the same probe as the write paths."""
    import uuid as _uuid

    from kudu_spark import fs as _fs

    env = table._env
    st = table.state()
    removed = set(paths)
    # the txn's files are still in the manifest when this runs (the
    # txn_abort commit lands after): exclude them = the post-abort view
    sub = dataclasses.replace(st, files=[f for f in st.files if f.path not in removed])
    pk = st.schema.pk
    live = [p for p in paths if env.exists(os.path.join(table.root, p))]
    if not live:
        return []
    keys = table.spark.read.parquet(
        *[table._data_path(p) for p in live]
    ).select(*pk).dropDuplicates(pk)
    snap = table._snapshot_overlapping(sub, keys).select(*st.schema.names)
    restored = snap.join(keys, on=pk, how="left_semi").withColumn(
        "__deleted", F.lit(False)
    )
    gone = table._tombstones(st, keys.join(snap.select(*pk), on=pk, how="left_anti"))
    if env.spark_native:
        staging = os.path.join(table.root, "_cdc", f"_staging-{_uuid.uuid4().hex}")
        senv = env
    else:
        import tempfile

        staging = tempfile.mkdtemp(prefix="pyskudu-cdc-")
        senv = _fs.env_for_root(staging)
    restored.unionByName(gone).write.mode("overwrite").parquet(staging)
    env.makedirs(os.path.join(table.root, "_cdc"))
    rels = []
    for fname in senv.walk_files(staging):
        if fname.endswith(".parquet"):
            rel = os.path.join("_cdc", f"abort-{txn_id}-{_uuid.uuid4().hex}.parquet")
            src = os.path.join(staging, fname)
            if senv is env:
                env.replace(src, os.path.join(table.root, rel))
            else:
                env.put_file(src, os.path.join(table.root, rel))
            rels.append(rel)
    senv.rmtree(staging)
    return rels


def _compensate(table: Table, entry_paths: list[str], txn_id: str,
                ops: set | None = None) -> None:
    """Append the txn_abort commit that removes an aborted
    participant's published files from the manifest (the files stay on
    disk — historical versions reference them). Idempotent: no-op when
    the participant never published or is already aborted. The CDC
    repair attachment is best-effort — a repair failure must not block
    the abort itself (the feed then misses retractions for this table,
    but table state is correct)."""
    if ops is None:
        ops = _txn_ops(table.root, txn_id)
    if "txn" not in ops or "txn_abort" in ops:
        return
    try:
        repair = _write_cdc_repair(table, entry_paths, txn_id)
    except Exception:
        repair = []
    extra: dict = {"txn_id": txn_id}
    if repair:
        extra["cdc_repair"] = repair
    table._commit(table.state(), "txn_abort", [], removes=entry_paths, extra=extra)


def _rewrite_marker(path: str, payload: dict) -> None:
    """Durably replace a txn marker (fsync'd write + atomic rename,
    through the warehouse root's Env)."""
    import json

    from kudu_spark.fs import env_for_root

    env_for_root(path).write_bytes(path, json.dumps(payload).encode(), fsync=True)


class EngineTransaction:
    """Cross-table transaction over one Engine's warehouse
    (≈ KuduTransaction, client.h:445-545, which spans sessions and
    tablets; Kudu coordinates through the TxnStatusManager —
    transactions/txn_status_manager.h — and we coordinate through a
    durable marker file under ``{warehouse}/_txns/``).

    Usage::

        txn = EngineTransaction(engine)
        txn.insert("orders", df1)
        txn.delete("inventory", df2)
        txn.commit()

    Commit protocol (each step durable before the next):
      1. every participant table's files are fully staged (invisible);
      2. the marker is written with state="committing" and each
         participant's planned add-set;
      3. one 'txn' commit is appended per table, tagged with the
         marker id;
      4. the marker is removed.
    A crash between 3 and 4 leaves a "committing" marker:
    ``recover(engine)`` appends the missing table commits (the staged
    files are durable), making the transaction all-or-nothing at the
    durability level. If a table's commit is REJECTED at publish time
    (duplicate key raced in), already-published participants are
    compensated with a 'txn_abort' commit that removes their added
    files. Cross-table atomicity of VISIBILITY is per-table manifest
    order — a reader can observe table A's commit before table B's for
    a few milliseconds (Kudu's commit-timestamp MVCC has no file-native
    equivalent); durability, however, is all-or-nothing."""

    def __init__(self, engine):
        self.engine = engine
        self._parts: dict[str, Transaction] = {}
        self._open = True

    def _txn(self, table_name: str) -> Transaction:
        if not self._open:
            raise KuduSparkError("transaction is closed")
        if table_name not in self._parts:
            self._parts[table_name] = Transaction(self.engine.table(table_name))
        return self._parts[table_name]

    def insert(self, table_name: str, df) -> None:
        self._txn(table_name).insert(df)

    def upsert(self, table_name: str, df) -> None:
        self._txn(table_name).upsert(df)

    def delete(self, table_name: str, df) -> None:
        self._txn(table_name).delete(df)

    def _marker_dir(self) -> str:
        return os.path.join(self.engine.root, "_txns")

    def commit(self) -> dict[str, int]:
        """Publish every participant; returns {table: commit_version}."""
        import json
        import uuid

        if not self._open:
            raise KuduSparkError("transaction is closed")
        self._open = False
        parts = {n: t for n, t in self._parts.items() if t._staged}
        if not parts:
            return {}
        from kudu_spark.fs import env_for_root

        env = env_for_root(self.engine.root)
        txn_id = uuid.uuid4().hex
        env.makedirs(self._marker_dir())
        marker = os.path.join(self._marker_dir(), f"{txn_id}.json")
        payload = {
            "txn_id": txn_id,
            "state": "committing",
            "participants": {
                n: {
                    "root": t.table.root,
                    # head at staging time: bounds any later scan for
                    # this txn's commit to (staged_at, head] — O(new
                    # commits), never O(history)
                    "staged_at": _head_version(t.table.root) or 0,
                    "entries": [e.to_json() for _, es in t._staged for e in es],
                    "ids": t._ids,
                }
                for n, t in parts.items()
            },
        }
        env.write_bytes(marker, json.dumps(payload).encode(), fsync=True)

        published: dict[str, int] = {}
        try:
            for name, t in parts.items():
                published[name] = t._publish(txn_id)
        except Exception:
            # Durably flip the marker to 'aborting' BEFORE compensating:
            # a crash mid-compensation must resume as an abort — with the
            # marker still saying 'committing', recover() would COMPLETE
            # the remaining participants of an effectively-aborted txn
            # (durable partial commit).
            payload["state"] = "aborting"
            _rewrite_marker(marker, payload)
            # every participant's compensation is attempted even if one
            # fails; on any failure the 'aborting' marker stays behind
            # and recover() finishes the abort idempotently
            ok = True
            for name, t in parts.items():
                try:
                    if name in published:
                        # manifest-remove the published adds (+CDC repair)
                        paths = [e.path for _, es in t._staged for e in es]
                        _compensate(t.table, paths, txn_id, ops={"txn"})
                    elif t._staged:
                        t.rollback()  # unpublished: reclaim staged files
                except Exception:
                    ok = False
            if ok:
                env.unlink(marker, missing_ok=True)
            raise
        env.unlink(marker, missing_ok=True)
        return published

    def rollback(self) -> None:
        self._open = False
        for t in self._parts.values():
            t.rollback()

    @staticmethod
    def recover(engine) -> list[str]:
        """Resolve transactions a crash left behind (≈ the
        TxnStatusManager replaying its tablet on failover,
        transactions/txn_status_manager.h). A 'committing' marker is
        COMPLETED — the missing per-table commits are appended from the
        marker's manifest — unless completion is no longer safe:
        staged files were lost, or a staged insert key now conflicts
        with a row another writer committed during the crash window
        (appending blind would break the base-uniqueness invariant the
        merge fast path relies on — Kudu txns likewise revalidate rows
        at apply). Unsafe or 'aborting' markers are driven to a full
        abort: published participants get a compensating txn_abort
        (+CDC repair), unpublished staged files are reclaimed. Both
        paths are idempotent; a participant failure leaves the marker
        for the next recover() call. Returns resolved txn ids."""
        import json

        from kudu_spark.fs import env_for_root
        from kudu_spark.meta import FileEntry

        env = env_for_root(engine.root)
        d = os.path.join(engine.root, "_txns")
        done = []
        for name in sorted(env.listdir(d)):
            if not name.endswith(".json") or ".tmp" in name:
                continue
            path = os.path.join(d, name)
            m = json.loads(env.read_bytes(path))
            txn_id = m["txn_id"]
            parts = m.get("participants", {})
            status = {tname: _txn_ops(part["root"], txn_id)
                      for tname, part in parts.items()}
            abort = m.get("state") == "aborting"
            if not abort:
                # completion-safety probe over the unpublished participants
                for tname, part in parts.items():
                    if "txn" in status[tname]:
                        continue
                    entries = [FileEntry.from_json(e) for e in part["entries"]]
                    if not all(
                        env.exists(os.path.join(part["root"], e.path))
                        for e in entries
                    ):
                        abort = True  # staged files lost: cannot complete
                        break
                    bases = [e for e in entries if e.kind == "base"]
                    t = engine.table(tname)
                    if bases and _publish_conflict(t, t.state(), bases, part.get("ids")):
                        abort = True  # dup PK or ids raced in during the crash window
                        break
                if abort:
                    m["state"] = "aborting"
                    _rewrite_marker(path, m)  # durable before compensating
            if abort:
                ok = True
                for tname, part in parts.items():
                    try:
                        paths = [e["path"] for e in part["entries"]]
                        if "txn" in status[tname]:
                            _compensate(engine.table(tname), paths, txn_id,
                                        ops=status[tname])
                        else:
                            for p in paths:  # unpublished: reclaim staged files
                                env.unlink(os.path.join(part["root"], p),
                                           missing_ok=True)
                    except Exception:
                        ok = False
                if ok:
                    env.unlink(path, missing_ok=True)
                    done.append(txn_id)
            else:
                # per-participant containment (mirrors the abort arm):
                # one failing publish — e.g. commit retries exhausted
                # against live writers — must not abort the whole
                # sweep; the marker stays for the next recover() call
                # and other markers still get processed
                ok = True
                for tname, part in parts.items():
                    if "txn" in status[tname]:
                        continue
                    try:
                        entries = [FileEntry.from_json(e) for e in part["entries"]]
                        t = engine.table(tname)
                        st = t.state()
                        t._commit(st, "txn", entries, extra={"txn_id": txn_id},
                                  props=_reserved_props(st, part.get("ids")))
                    except Exception:
                        ok = False
                if ok:
                    env.unlink(path, missing_ok=True)
                    done.append(txn_id)
        return done

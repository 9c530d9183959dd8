"""Engine: the catalog surface (≈ KuduClient + master catalog_manager).

create/alter/drop/soft-delete tables, hash+range partitioning, online
partition add/drop, schema evolution — all as metadata-log operations
over the directory-per-table layout (SURVEY.md §2.11). None of Kudu's
consensus machinery survives the translation: the object store's
atomic create-if-absent is the only primitive needed.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from kudu_spark import vector
from kudu_spark.errors import KuduSparkError, SchemaError, TableExistsError, TableNotFoundError
from kudu_spark.meta import (
    ColumnSpec,
    HashDimension,
    LOG_DIR,
    PartitionSpec,
    RangeSpec,
    Schema,
    append_commit,
    replay,
)
from kudu_spark.table import AUTO_INC_COL, RESERVED, Table, locate


def _spark_type_to_ddl(dt: T.DataType) -> str:
    return dt.simpleString()


class Engine:
    def __init__(self, spark: SparkSession, root: str, database: str = "default",
                 single_writer: bool = False):
        self.spark = spark
        self.root = root
        # the warehouse is ONE database (Impala's Kudu integration
        # resolves db.table against its catalog; our catalog is the
        # warehouse root) — qualified names `<database>.<table>` and
        # `USE <database>` map onto it (kudu_impala_integration.adoc:
        # 150-731). Both the configured name and "default" stay
        # resolvable as qualifiers regardless of the CURRENT database:
        # Impala keeps fully-qualified names working after any USE.
        self.database = database
        self._databases = [database] + (["default"] if database != "default" else [])
        # the storage Env serving the warehouse root (fs.py ≈ Kudu's
        # Env, util/env.h): rejects unsupported URI schemes LOUDLY
        # here, at construction, rather than deep inside a commit
        from kudu_spark import fs

        self._env = fs.env_for_root(root)
        # a scheme whose commit publish is not atomic refuses
        # multi-writer use unless the caller opts into single-writer
        # discipline (same loud-at-construction philosophy)
        fs.check_multi_writer_safe(self._env, root, single_writer)
        fs.bind_spark(self._env, spark)
        self._env.makedirs(root)

    # -- catalog ---------------------------------------------------------------

    def _table_root(self, name: str) -> str:
        if "/" in name or name.startswith("."):
            raise KuduSparkError(f"invalid table name {name!r}")
        return os.path.join(self.root, name)

    def table_exists(self, name: str) -> bool:
        st = self._state_or_none(name)
        return st is not None and not st.tombstoned

    def _state_or_none(self, name: str):
        root = self._table_root(name)
        if not self._env.isdir(os.path.join(root, LOG_DIR)):
            return None
        return replay(name, root)

    def table(self, name: str) -> Table:
        st = self._state_or_none(name)
        if st is None or st.tombstoned:
            raise TableNotFoundError(name)
        return Table(self.spark, name, self._table_root(name))

    def list_tables(self, include_soft_deleted: bool = False) -> list[str]:
        out = []
        for name in sorted(self._env.listdir(self.root)):
            st = self._state_or_none(name)
            if st is None:
                continue
            if st.tombstoned and not include_soft_deleted:
                continue
            out.append(name)
        return out

    # -- SQL over engine tables ---------------------------------------------------

    def sql(self, query: str, version_of: dict | None = None,
            txn_consistent: bool = True):
        """Run Spark SQL over the warehouse's tables — the division of
        labor Kudu ships with Impala (docs/kudu_impala_integration.adoc):
        every live table is registered as a temp view of its
        merge-on-read snapshot, then the query planner owns
        joins/aggs/windows. ``version_of`` maps table name -> version
        for AS-OF reads inside SQL (≈ READ_AT_SNAPSHOT); the same pin
        can be written inline as ``t VERSION AS OF n`` or
        ``t TIMESTAMP AS OF '<iso>'`` (the Delta/Iceberg SQL time
        travel spelling), which wins over both this argument and the
        txn-consistency pins. Read-only: DML always runs at head.

        ``txn_consistent`` (DEFAULT ON since round 6) pins tables to
        ``consistent_versions()`` so a cross-table transaction
        mid-publish is visible NOWHERE instead of in a torn subset
        (explicit ``version_of`` entries still win) — matching Kudu's
        commit-timestamp MVCC, where a txn becomes visible at one
        timestamp on every tablet (transactions/, client.h:445-545).
        The probe is one ``_txns/`` directory check, a no-op unless a
        transaction is actually mid-publish; ``txn_consistent=False``
        opts out for single-table workloads that want zero probes.

        DML statements (INSERT / UPSERT / UPDATE / DELETE, incl.
        IGNORE variants — the surface Impala routes to the Kudu write
        API, docs/kudu_impala_integration.adoc:665-731) are detected by
        their leading keyword and executed through the table write
        paths; they return a one-row summary DataFrame (see
        ``kudu_spark.sql_dml``). Their read side (SELECT sources, WHERE
        predicates, SET expressions) is planned by Spark SQL over the
        same snapshot views, so subqueries and joins work in DML too.

        Scale note: views are DataFrames over the pruned scan path —
        predicates in the SQL still reach parquet via Catalyst; nothing
        is materialized by registration."""
        from kudu_spark.sql_dml import extract_as_of, is_dml, run_dml, strip_comments
        from kudu_spark.sql_ddl import is_ddl, is_show, run_ddl, run_show
        import re as _re

        text = strip_comments(query).strip().rstrip(";").strip()
        m = _re.match(r"USE\s+([A-Za-z_]\w*)$", text, _re.IGNORECASE)
        if m:
            # one-database warehouse: USE may only name it (Impala
            # errors on unknown databases the same way)
            db = m.group(1)
            if db.lower() not in {d.lower() for d in self._databases}:
                raise KuduSparkError(f"unknown database: {db}")
            self.database = db
            return self.spark.createDataFrame([(db,)], "database string")
        if _re.match(r"SHOW\s+DATABASES$", text, _re.IGNORECASE):
            return self.spark.createDataFrame(
                [(d,) for d in sorted(self._databases)], "name string")
        # strip `<database>.` qualifiers (outside string literals) so
        # Impala scripts written against a db-qualified catalog run
        # verbatim; every downstream regex then sees bare table names
        query = self._strip_db_qualifiers(query)
        m = _re.match(
            r"\s*EXPLAIN\b\s*(EXTENDED|FORMATTED|CODEGEN|COST|ANALYZED)?\s*(.+)$",
            query, _re.IGNORECASE | _re.DOTALL)
        if m:
            return self._explain(m.group(2).strip(), m.group(1),
                                 version_of, txn_consistent)
        if is_ddl(query):
            return run_ddl(self, query)
        if is_show(query):
            return run_show(self, query)
        import re as _re

        if _re.match(r"\s*(BEGIN|COMMIT|ROLLBACK)\b", query, _re.IGNORECASE):
            raise KuduSparkError(
                "transaction control statements need a statement sequence — "
                "use Engine.sql_script('BEGIN; ...; COMMIT')")
        # ANN_TOPK('table', 'col', ARRAY[...], k[, probes[, quantized
        # [, refine]]]) — the external-query-vector serve endpoint as a
        # SQL table source (VERDICT r13 #4): each call is evaluated
        # through Table.ann_topk_vectors and substituted by a temp
        # view, so it composes in FROM/JOIN/DML-read positions
        query = self._rewrite_ann_tvf(query)
        # SQL-level time travel: `t VERSION AS OF n` / `t TIMESTAMP AS
        # OF '<iso>'` (the Delta/Iceberg spelling of READ_AT_SNAPSHOT);
        # inline pins are the most local intent, so they win over both
        # the version_of argument and the txn-consistency pins
        query, as_of = extract_as_of(query)
        version_of = dict(version_of or {})
        if as_of:
            if is_dml(query):
                raise KuduSparkError(
                    "AS OF pins are read-only; DML always runs at head")
            from kudu_spark.meta import version_at_timestamp

            for name, pin in as_of.items():
                if "version" in pin:
                    version_of[name] = pin["version"]
                    continue
                v = version_at_timestamp(self._table_root(name),
                                         pin["timestamp_ms"])
                if v is None and self.table_exists(name):
                    # a pin earlier than the first commit must error,
                    # not silently read HEAD (Delta/Iceberg raise the
                    # same way; scan(version=None) means "head")
                    raise KuduSparkError(
                        f"TIMESTAMP AS OF precedes the first commit of "
                        f"table {name}; its history starts later")
                version_of[name] = v
        if txn_consistent:
            pins = self.consistent_versions()
            for name, v in pins.items():
                version_of.setdefault(name, v)
        if is_dml(query):
            return run_dml(self, query)
        names, wanted = self._register_views(query, version_of)
        try:
            return self.spark.sql(query)
        except Exception:
            rest = [n for n in names if n not in wanted]
            if not rest:
                raise
            for name in rest:
                df = self.table(name).scan(version=version_of.get(name))
                df.createOrReplaceTempView(name)
            return self.spark.sql(query)

    def _rewrite_ann_tvf(self, text: str) -> str:
        """Substitute every ``ANN_TOPK('table', 'column', ARRAY[...],
        k[, probes[, quantized[, refine]]])`` call (quote-aware,
        paren-balanced, outside string literals) with a temp view over
        ``Table.ann_topk_vectors`` — SQL's spelling of the
        external-query-vector ANN serve. Returns (query_id=0,
        neighbor_id, rank, cosine) rows, identical to the Python API
        with one query vector; the probe/candidate work runs through
        the same stored-cell pruned plan, so the view is a bounded
        k-row relation, never a table scan the optimizer must fence."""
        import json as _json
        import re as _re

        out, i, n, view_n = [], 0, len(text), 0
        upper = text.upper()
        while i < n:
            c = text[i]
            if c == "'":
                j = i + 1
                while j < n:
                    if text[j] == "'":
                        if j + 1 < n and text[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                out.append(text[i:j + 1])
                i = j + 1
                continue
            m = _re.match(r"ANN_TOPK\s*\(", upper[i:])
            if not (m and (i == 0 or not (text[i - 1].isalnum()
                                          or text[i - 1] == "_"))):
                out.append(c)
                i += 1
                continue
            # balanced-paren, quote-aware capture of the argument list
            j = i + m.end()
            depth, args, cur = 1, [], []
            while j < n and depth:
                ch = text[j]
                if ch == "'":
                    k2 = j + 1
                    while k2 < n:
                        if text[k2] == "'":
                            if k2 + 1 < n and text[k2 + 1] == "'":
                                k2 += 2
                                continue
                            break
                        k2 += 1
                    cur.append(text[j:k2 + 1])
                    j = k2 + 1
                    continue
                if ch in "([":
                    depth += 1
                elif ch in ")]":
                    depth -= 1
                    if depth == 0:
                        break
                if ch == "," and depth == 1:
                    args.append("".join(cur))
                    cur = []
                else:
                    cur.append(ch)
                j += 1
            if depth:
                raise KuduSparkError("ANN_TOPK: unbalanced parentheses")
            args.append("".join(cur))
            args = [a.strip() for a in args if a.strip()]
            if len(args) < 3:
                raise KuduSparkError(
                    "ANN_TOPK needs (table, column, ARRAY[...]) at least")

            def _unq(s):
                s = s.strip()
                if len(s) >= 2 and s[0] == "'" and s[-1] == "'":
                    return s[1:-1].replace("''", "'")
                return s

            tname, col = _unq(args[0]), _unq(args[1])
            vm = _re.match(r"(?:ARRAY\s*)?[\[(](.*)[\])]\s*$", args[2],
                           _re.IGNORECASE | _re.DOTALL)
            if not vm:
                raise KuduSparkError(
                    f"ANN_TOPK: third argument must be ARRAY[...], got "
                    f"{args[2][:40]!r}")
            try:
                vec = [float(x) for x in _json.loads(f"[{vm.group(1)}]")]
            except Exception as e:
                raise KuduSparkError(
                    f"ANN_TOPK: cannot parse query vector: {e}")
            k = int(args[3]) if len(args) > 3 else 5
            probes = int(args[4]) if len(args) > 4 else 2
            quant = (str(args[5]).strip().lower() in ("true", "1")
                     if len(args) > 5 else False)
            refine = int(args[6]) if len(args) > 6 else 4
            df = self.table(tname).ann_topk_vectors(
                col, [(0, vec)], k=k, n_probes=probes,
                quantized=quant, refine=refine)
            view = f"__ann_topk_{view_n}"
            view_n += 1
            df.createOrReplaceTempView(view)
            out.append(view)
            i = j + 1
        return "".join(out)

    def _register_views(self, text: str, version_of: dict | None = None):
        """Register temp views for engine tables the statement text
        references (word match): building a merge-on-read view costs a
        state replay + plan per table, so a 1000-table warehouse must
        not pay it for a 2-table query (Impala likewise resolves only
        referenced catalog entries). A word match can only
        over-approximate — table names are plain identifiers, so any
        real reference matches; extra registrations are harmless.
        Returns (all_names, registered_names) so ``sql`` can fall back
        to registering everything if analysis still misses a table."""
        import re

        version_of = version_of or {}
        names = self.list_tables()
        wanted = [n for n in names
                  if re.search(rf"\b{re.escape(n)}\b", text, re.IGNORECASE)]
        for name in names:
            if name not in wanted:
                # a stale temp view from an earlier sql() must not
                # silently serve an old snapshot to a query the word
                # match failed to associate with it
                try:
                    self.spark.catalog.dropTempView(name)
                except Exception:
                    pass
        for name in wanted:
            df = self.table(name).scan(version=version_of.get(name))
            df.createOrReplaceTempView(name)
        return names, wanted

    def _strip_db_qualifiers(self, text: str) -> str:
        """Rewrite ``<database>.<ident>`` to ``<ident>`` for the
        warehouse's single database, outside string literals — the
        Impala catalog's qualified spelling of our flat table names
        (kudu_impala_integration.adoc:150-343). Unknown database
        prefixes pass through untouched (Spark then reports them)."""
        import re

        names = {d.lower() for d in self._databases}
        pat = "|".join(sorted(re.escape(n) for n in names))
        parts = re.split(r"('(?:[^']|'')*')", text)
        for i in range(0, len(parts), 2):
            parts[i] = re.sub(
                rf"\b(?:{pat})\s*\.\s*(?=[A-Za-z_`])", "", parts[i],
                flags=re.IGNORECASE)
        return "".join(parts)

    def _explain(self, inner: str, mode: str | None, version_of, txn_consistent):
        """EXPLAIN <statement> (the Impala surface,
        kudu_impala_integration.adoc:150-731). Queries build the full
        merge-on-read DataFrame (lazily — nothing executes) and return
        Spark's explain string for it; DML statements return the write
        path that WOULD run, without staging or committing anything."""
        import re

        from kudu_spark.sql_ddl import is_ddl, is_show
        from kudu_spark.sql_dml import is_dml

        if is_ddl(inner) or is_show(inner):
            # Impala explains DDL too (VERDICT r8 "What's missing" #4):
            # a catalog statement's "plan" is the metadata operation it
            # would perform — one commit-log append, no data movement
            m = re.match(r"\s*(\w+(?:\s+\w+)?)", inner)
            verb = (m.group(1).upper() if m else "DDL").strip()
            lines = [
                f"{verb} [catalog statement]",
                "  plan: resolve table root -> validate against current "
                "schema/partition spec -> append one atomic commit-log "
                "entry (no data files read or written)"
                if is_ddl(inner) else
                "  plan: read table metadata (commit log / parquet "
                "footers); no data-file scan unless the table holds "
                "un-compacted deltas",
            ]
            return self.spark.createDataFrame([("\n".join(lines),)], "plan string")
        if is_dml(inner):
            m = re.match(
                r"(INSERT|UPSERT|UPDATE|DELETE|MERGE)(\s+IGNORE)?\s+"
                r"(?:INTO\s+|FROM\s+)?([A-Za-z_]\w*)", inner, re.IGNORECASE)
            if not m:
                raise KuduSparkError(f"cannot explain statement: {inner[:60]!r}")
            op, ign, name = m.group(1).upper(), bool(m.group(2)), m.group(3)
            st = self.table(name).state()
            ps = st.partition_spec
            dims = ", ".join(
                f"hash({','.join(d.columns)}) buckets={d.buckets}"
                for d in ps.hash_dims) or "unpartitioned"
            if ps.range_spec.enabled:
                dims += f", range({','.join(ps.range_spec.cols)})"
            lines = [
                f"{op}{' IGNORE' if ign else ''} target={name}",
                f"  partitioning: {dims}",
                "  write path: validate batch -> probe PK existence "
                "(presence index / pruned scan) -> route partitions -> "
                "write parquet -> atomic manifest commit",
            ]
            return self.spark.createDataFrame([("\n".join(lines),)], "plan string")
        df = self.sql(inner, version_of=version_of, txn_consistent=txn_consistent)
        mode_str = (mode or "formatted").lower()
        try:
            jvm = self.spark._jvm
            em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode_str)
            plan = df._jdf.queryExecution().explainString(em)
        except Exception:
            plan = df._jdf.queryExecution().toString()
        return self.spark.createDataFrame([(plan,)], "plan string")

    def sql_script(self, script: str, txn_consistent: bool = True) -> list:
        """Run a multi-statement SQL script (statements separated by
        top-level semicolons — semicolons inside string literals are
        handled) in order; returns the per-statement result DataFrames.
        Lets a reference user run their Impala .sql files verbatim:
        DDL + DML + SELECT mix freely, each statement seeing the
        effects of the previous ones.

        ``BEGIN [TRANSACTION]`` ... ``COMMIT`` / ``ROLLBACK`` blocks
        expose Kudu's multi-row cross-table transactions
        (client.h:445-545; writer.EngineTransaction) at the SQL level:
        every INSERT/UPSERT/UPDATE/DELETE inside the block is STAGED
        and becomes visible atomically at COMMIT — across tables —
        or vanishes at ROLLBACK. Statements inside the block read the
        PRE-transaction snapshot (no read-your-writes, matching Kudu
        transactions); their summary rows carry version=-1 until the
        COMMIT row reports the publish. DDL inside a block errors; a
        block left open at script end is rolled back and raised."""
        import re as _re

        from kudu_spark.sql_ddl import is_ddl, is_show
        from kudu_spark.sql_dml import _split_top_level, is_dml, run_dml, strip_comments
        from kudu_spark.writer import EngineTransaction

        out = []
        txn = None
        try:
            for stmt in _split_top_level(strip_comments(script), ";"):
                s = self._strip_db_qualifiers(stmt.strip())
                if not s:
                    continue
                if _re.match(r"BEGIN(\s+(TRANSACTION|WORK))?$", s, _re.IGNORECASE):
                    if txn is not None:
                        raise KuduSparkError("nested BEGIN")
                    txn = EngineTransaction(self)
                    continue
                if _re.match(r"COMMIT(\s+(TRANSACTION|WORK))?$", s, _re.IGNORECASE):
                    if txn is None:
                        raise KuduSparkError("COMMIT without BEGIN")
                    versions = txn.commit()
                    txn = None
                    out.append(self.spark.createDataFrame(
                        [("COMMIT", ",".join(sorted(versions)), 0,
                          max(versions.values(), default=0))],
                        "operation string, table string, rows_affected bigint, "
                        "version bigint"))
                    continue
                if _re.match(r"ROLLBACK(\s+(TRANSACTION|WORK))?$", s, _re.IGNORECASE):
                    if txn is None:
                        raise KuduSparkError("ROLLBACK without BEGIN")
                    txn.rollback()
                    txn = None
                    continue
                if txn is not None:
                    if is_ddl(s) or is_show(s):
                        raise KuduSparkError(
                            "DDL inside a BEGIN block is not supported "
                            "(Kudu transactions cover row operations only)")
                    if is_dml(s):
                        out.append(run_dml(self, s, txn=txn))
                        continue
                out.append(self.sql(s, txn_consistent=txn_consistent))
        except Exception:
            if txn is not None:
                try:
                    txn.rollback()
                except Exception:
                    pass
            raise
        if txn is not None:
            txn.rollback()
            raise KuduSparkError(
                "script ended with an open transaction (no COMMIT/ROLLBACK); "
                "staged writes were rolled back")
        return out

    def _txn_markers(self) -> list[dict]:
        """Parsed in-flight cross-table transaction markers under
        ``_txns/`` (torn/concurrently-removed markers are skipped)."""
        import json

        out = []
        d = os.path.join(self.root, "_txns")
        for mname in sorted(self._env.listdir(d)):
            if not mname.endswith(".json") or ".tmp" in mname:
                continue
            try:
                out.append(json.loads(self._env.read_bytes(os.path.join(d, mname))))
            except (OSError, ValueError):
                continue  # marker being written/removed concurrently
        return out

    def consistent_versions(self) -> dict[str, int]:
        """Per-table snapshot versions that exclude every cross-table
        transaction still mid-publish (its durable marker under
        ``_txns/`` is unresolved): each participant that already
        published the txn's commit is pinned just below it, so a reader
        observes the transaction NOWHERE rather than in a torn subset —
        the file-native stand-in for Kudu's commit-timestamp MVCC
        (a txn becomes visible at one timestamp on every tablet,
        transactions/txn_status_manager.h). EVERY participant of a
        pending txn gets a pin — published participants just below the
        txn commit, not-yet-published ones at their head AS OF THIS
        PROBE (so a publish racing in after the probe is still
        excluded; without that pin the reader could observe the txn in
        a late-publishing table while an early participant is pinned
        below it — the exact torn read this exists to prevent). The
        commit search reads only (staged_at, head] of each
        participant's log — O(commits since the txn staged), never
        O(history). Markers are transient, so this is almost always a
        no-op directory check."""
        from kudu_spark.meta import head_version, read_log

        pins: dict[str, int] = {}
        for m in self._txn_markers():
            for tname, part in m.get("participants", {}).items():
                head = head_version(part["root"]) or 0
                pin = head  # unpublished as of the probe: freeze here
                lo = int(part.get("staged_at", 0))
                for c in read_log(part["root"], max_version=head, min_version=lo):
                    if c.get("txn_id") == m["txn_id"] and c.get("op") == "txn":
                        pin = c["version"] - 1
                        break
                pins[tname] = min(pins.get(tname, pin), pin)
        return pins

    # -- create ------------------------------------------------------------------

    def create_table(
        self,
        name: str,
        schema: T.StructType | list[tuple],
        pk: list[str],
        hash_partitions: list[dict] | None = None,
        range_partition: dict | None = None,
        immutable_cols: list[str] | None = None,
        defaults: dict | None = None,
        non_unique_pk: bool = False,
        if_not_exists: bool = False,
        owner: str | None = None,
    ) -> Table:
        """≈ KuduTableCreator (client.h:1241). ``hash_partitions`` is a
        list of {"columns": [...], "buckets": N, "seed": 0}; ``range_partition``
        is {"column": c, "ranges": [[lo,hi), ...]} or {"column": c,
        "splits": [s1, s2]} for covering ranges split at the given points.
        ``non_unique_pk`` appends the hidden auto-increment column
        (common.proto:173, schema.h:263). ``owner`` ≈
        KuduTableCreator::set_owner (client.h:1396): stored as the
        ``owner`` table property, surfaced by SHOW CREATE TABLE,
        statistics()/SHOW TABLE STATS, and Engine.describe-style
        introspection."""
        if self.table_exists(name):
            if if_not_exists:
                return self.table(name)
            raise TableExistsError(name)
        immutable = set(immutable_cols or [])
        defaults = defaults or {}
        cols: list[ColumnSpec] = []
        # each schema item: a StructField, a (name, type, nullable)
        # tuple, or a dict — the dict form additionally carries Kudu's
        # per-column storage attributes (encoding / compression /
        # block_size, ColumnSchemaPB common.proto:134-170)
        ATTRS = ("encoding", "compression", "block_size")
        if isinstance(schema, T.StructType):
            fields = [(f.name, _spark_type_to_ddl(f.dataType), f.nullable, {})
                      for f in schema.fields]
        else:
            fields = []
            for item in schema:
                if isinstance(item, dict):
                    fields.append((
                        item["name"], item["type"], bool(item.get("nullable", True)),
                        {k: item[k] for k in ATTRS if item.get(k) is not None},
                    ))
                else:
                    n, t, nl = item
                    fields.append((n, t, bool(nl), {}))
        # PK columns first, non-nullable (docs/known_issues.adoc:39-46)
        pk = list(pk)
        if non_unique_pk:
            pk = pk + [AUTO_INC_COL]
        by_name = {f[0]: f for f in fields}
        ordered = []
        for k in pk:
            if k == AUTO_INC_COL:
                ordered.append((AUTO_INC_COL, "bigint", False, {}))
                continue
            if k not in by_name:
                raise SchemaError(f"PK column {k} not in schema")
            n, t, _, at = by_name[k]
            ordered.append((n, t, False, at))
        for n, t, nl, at in fields:
            if n not in pk:
                ordered.append((n, t, nl, at))
        for i, (n, t, nl, at) in enumerate(ordered):
            if n in RESERVED or n.startswith("__"):
                raise SchemaError(f"reserved column name {n}")
            cols.append(
                ColumnSpec(
                    id=i + 1,
                    name=n,
                    type=t,
                    nullable=nl,
                    immutable=n in immutable,
                    default=defaults.get(n),
                    **at,
                )
            )
        sch = Schema(columns=cols, pk=pk, version=1)

        hash_dims = [
            HashDimension(h["columns"], h["buckets"], h.get("seed", 0))
            for h in (hash_partitions or [])
        ]
        for h in hash_dims:
            for c in h.columns:
                if c not in pk:
                    raise SchemaError(f"hash column {c} must be part of the primary key")
        rspec = RangeSpec()
        if range_partition:
            # single column ({"column": c, "splits"/"ranges"}) or a
            # compound range key ({"columns": [...], "ranges": [[lo...,
            # hi...], ...]} with list bounds, partition.h:273)
            rcols = list(range_partition.get("columns") or [range_partition["column"]])
            for col in rcols:
                if col not in pk:
                    raise SchemaError(f"range column {col} must be part of the primary key")
            if "ranges" in range_partition:
                ranges = [list(r) for r in range_partition["ranges"]]
            else:
                if len(rcols) > 1:
                    raise SchemaError("compound range keys need explicit 'ranges'")
                splits = sorted(range_partition.get("splits", []))
                edges = [None] + list(splits) + [None]
                ranges = [[edges[i], edges[i + 1]] for i in range(len(edges) - 1)]
            rspec = RangeSpec(
                column=rcols[0] if len(rcols) == 1 else None,
                ranges=ranges,
                columns=rcols if len(rcols) > 1 else None,
            )
        overrides = {}
        for rid, ov in (range_partition or {}).get("hash_overrides", {}).items():
            ov = [int(ov)] * len(hash_dims) if isinstance(ov, int) else [int(x) for x in ov]
            overrides[int(rid)] = ov
        pspec = PartitionSpec(hash_dims=hash_dims, range_spec=rspec,
                              hash_overrides=overrides)

        root = self._table_root(name)
        self._env.makedirs(os.path.join(root, LOG_DIR))
        self._env.makedirs(os.path.join(root, "data"))
        payload = {
            "op": "create",
            "schema": sch.to_json(),
            "partition_spec": pspec.to_json(),
            "actions": [],
        }
        if owner:
            payload["props"] = {"owner": str(owner)}
        append_commit(root, 1, payload)
        return Table(self.spark, name, root)

    # -- drop / soft-delete (python/kudu/client.pyx:527-583) ---------------------

    def drop_table(self, name: str) -> None:
        root = self._table_root(name)
        if not self._env.isdir(root):
            raise TableNotFoundError(name)
        self._env.rmtree(root)
        from kudu_spark.table import _evict_key_frames, _evict_maint_lock

        _evict_maint_lock(root)
        # release the dropped root's persisted frames too (SCALE.md's
        # evict-on-drop contract): without this, up to GBs of resident
        # merged-dirty frames per dropped table would linger in Spark
        # storage memory until 32 other roots churn the LRU
        _evict_key_frames(root)

    def rename_table(self, old: str, new: str) -> None:
        """Table rename (client.h KuduTableAlterer::RenameTo). The
        directory move is atomic on one filesystem; readers holding the
        old handle see TableNotFound on next state(), like Kudu clients
        refreshing metadata after a rename."""
        if not self.table_exists(old):
            raise TableNotFoundError(old)
        dst = self._table_root(new)
        if self._env.exists(dst):
            raise TableExistsError(new)
        src = self._table_root(old)
        self._env.rename_dir(src, dst)
        from kudu_spark.table import _evict_key_frames, _evict_maint_lock

        # cached frames reference the OLD root's file paths, and the
        # old root's lock entries would otherwise leak per rename
        # (the registry's contract: bounded by LIVE tables)
        _evict_key_frames(src)
        _evict_maint_lock(src)

    # default recall window, matching Kudu's
    # --default_deleted_table_reserve_seconds behavior (7 days)
    SOFT_DELETE_RESERVE_SECONDS = 7 * 24 * 3600

    def soft_delete_table(self, name: str, reserve_seconds: int | None = None) -> None:
        """Tombstone a table but keep it recallable for
        ``reserve_seconds`` (client.pyx:527-583 soft_delete_table;
        master SoftDeleteTable). After the reservation expires the
        table can no longer be recalled and ``purge_soft_deleted``
        drops it. ``reserve_seconds=0`` is immediately purgeable."""
        import time

        if reserve_seconds is None:
            reserve_seconds = self.SOFT_DELETE_RESERVE_SECONDS
        t = self.table(name)
        expires = int(time.time() * 1000) + int(reserve_seconds) * 1000
        t._commit(t.state(), "soft_delete", [],
                  props={"soft_delete_expires_ms": expires})

    def recall_table(self, name: str) -> None:
        """Un-delete inside the reservation window (client.pyx
        recall_table / RecallDeletedTable); refused after it expires."""
        import time

        st = self._state_or_none(name)
        if st is None:
            raise TableNotFoundError(name)
        if not st.tombstoned:
            raise KuduSparkError(f"table {name} is not soft-deleted")
        expires = st.props.get("soft_delete_expires_ms")
        if expires is not None and int(time.time() * 1000) > int(expires):
            raise KuduSparkError(
                f"table {name}'s soft-delete reservation expired; it can no longer be recalled"
            )
        t = Table(self.spark, name, self._table_root(name))
        t._commit(st, "recall", [])

    def purge_soft_deleted(self) -> list[str]:
        """Hard-drop every soft-deleted table whose reservation has
        expired (the master's background purge of expired tombstones).
        Returns the dropped table names."""
        import time

        now = int(time.time() * 1000)
        dropped = []
        for name in self.list_tables(include_soft_deleted=True):
            st = self._state_or_none(name)
            if st is None or not st.tombstoned:
                continue
            expires = st.props.get("soft_delete_expires_ms")
            if expires is not None and now > int(expires):
                self.drop_table(name)
                dropped.append(name)
        return dropped

    # -- transactions (client.h:445-545 KuduTransaction) --------------------------

    def transaction(self):
        """Cross-table transaction on this warehouse; see
        writer.EngineTransaction for the commit/recovery protocol."""
        from kudu_spark.writer import EngineTransaction

        return EngineTransaction(self)

    def recover_transactions(self) -> list[str]:
        """Complete cross-table transactions a crash left mid-commit."""
        from kudu_spark.writer import EngineTransaction

        return EngineTransaction.recover(self)

    # -- background maintenance daemon (tablet/maintenance_manager.h) ------------

    def start_maintenance(self, interval_s: float = 5.0) -> None:
        """Start the background maintenance daemon — the engine-level
        analogue of Kudu's MaintenanceManager scheduler
        (util/maintenance_manager.h, tablet/maintenance_manager.h):
        a daemon thread sweeps every live table each ``interval_s``,
        applying the existing (budgeted, write-proportional)
        auto-compaction policy — delta folds, small-file packing and
        presence-sidecar merges — OFF the write path. Pair it with
        ``auto_compact_mode='deferred'`` so mutations never pay
        maintenance IO inline: the daemon drains the backlog instead,
        removing the tail-latency spikes the inline fold causes
        (scripts/ingest_scale.py --daemon measures exactly this).

        Each sweep is one ``maintenance_sweep``: it runs the same
        policy as the writer-triggered folds (inline or async), under
        the same per-table-root maintenance mutex, and skips any table
        whose mutex is held rather than queueing behind it. Sweep
        failures are logged and counted in the daemon's ``errors``,
        never raised — a maintenance daemon must not die because one
        table had a transient conflict."""
        import threading

        if getattr(self, "_maint_daemon", None) is not None:
            return  # already running
        stop = threading.Event()
        stats = {"sweeps": 0, "compactions": 0, "errors": 0}
        stats_lock = threading.Lock()  # daemon writes, stop_maintenance reads

        def loop():
            while not stop.wait(interval_s):
                try:
                    did = self.maintenance_sweep()
                    table_errs = did.pop("__errors__", {})
                    with stats_lock:
                        stats["sweeps"] += 1
                        stats["compactions"] += sum(1 for v in did.values() if v)
                        # per-table failures count alongside whole-sweep
                        # ones: a persistently faulty table shows up in
                        # the daemon's counters, not just the log
                        stats["errors"] += len(table_errs)
                except Exception:
                    with stats_lock:
                        stats["errors"] += 1
                    import logging

                    logging.getLogger("kudu_spark.maintenance").warning(
                        "maintenance sweep failed", exc_info=True)

        th = threading.Thread(target=loop, name="kudu-maintenance-mgr",
                              daemon=True)
        self._maint_daemon = (th, stop, stats, stats_lock)
        th.start()

    def stop_maintenance(self, drain: bool = False) -> dict:
        """Stop the maintenance daemon; with ``drain=True`` run one
        final synchronous sweep so shutdown leaves no backlog. Returns
        the daemon's counters."""
        d = getattr(self, "_maint_daemon", None)
        if d is None:
            return {}
        th, stop, stats, stats_lock = d
        stop.set()
        th.join(timeout=60)
        self._maint_daemon = None
        if drain:
            self.maintenance_sweep()
        with stats_lock:
            return dict(stats)

    def maintenance_sweep(self) -> dict:
        """One non-blocking maintenance pass: each live table whose
        maintenance mutex is free gets one budgeted auto-compaction
        evaluation (tables mid-fold, or with ``auto_compact=false``,
        are skipped). Returns {table: did_work}; tables whose pass
        RAISED (corrupt manifest, unreadable sidecar, malformed
        property) are reported under the reserved ``"__errors__"``
        key ({table: message}) and logged at warning — a table with a
        persistent fault must look different from "nothing to do", or
        it silently never receives maintenance (VERDICT r11 #4)."""
        import logging

        out: dict = {}
        errors: dict[str, str] = {}
        for name in self.list_tables():
            try:
                t = self.table(name)
                st = t.state()
                compact_on = str(st.props.get("auto_compact", "true")).lower() not in (
                    "false", "0", "no")
                age = st.props.get("history_max_age_sec")
                if age is not None:
                    # validate BEFORE doing any work: a malformed value
                    # must surface as this table's error, not silently
                    # disable its maintenance every sweep (ADVICE r11)
                    try:
                        age = int(float(str(age).strip()))
                    except ValueError:
                        raise KuduSparkError(
                            f"history_max_age_sec={st.props.get('history_max_age_sec')!r}"
                            " is not a number of seconds"
                        )
                if not compact_on and age is None and not vector.retrain_enabled(st):
                    out[name] = False
                    continue
                if not t._maint_lock.acquire(blocking=False):
                    out[name] = False  # writer-triggered fold in flight
                    continue
                try:
                    did = False
                    if compact_on:
                        before = st.version
                        t._auto_compact_once(st)
                        did = t.state().version != before
                    # tablet history GC rides the maintenance pass
                    # (Kudu's UndoDeltaBlockGCOp under
                    # --tablet_history_max_age_sec) and is INDEPENDENT
                    # of the compaction policy: tables that SET
                    # history_max_age_sec get a retention-guarded
                    # vacuum (never force — snapshots younger than the
                    # age stay readable, concurrent writers protected
                    # by the in-flight seq slack) even with
                    # auto_compact=false
                    if age is not None:
                        removed = t.vacuum(retention_seconds=age)
                        did = did or removed > 0
                    # IVF cell-model care (VERDICT r12 #5, rebudgeted
                    # r14): tables that SET ivf_retrain_stale_frac get
                    # a drift-triggered retrain plus ONE budgeted
                    # convergence step per sweep — stale stamps drain
                    # across sweeps under hybrid serving instead of a
                    # full-table rewrite; O(metadata) when converged
                    retrained = t.maybe_retrain_vector_cells()
                    conv = retrained.get("__converge__") or {}
                    did = (did
                           or any(v is True for k, v in retrained.items()
                                  if k != "__converge__")
                           or conv.get("partitions", 0) > 0)
                    out[name] = did
                finally:
                    t._maint_lock.release()
            except Exception as e:
                out[name] = False
                errors[name] = f"{type(e).__name__}: {e}"
                logging.getLogger("kudu_spark.maintenance").warning(
                    "maintenance of table %s failed: %s", name, e)
        if errors:
            out["__errors__"] = errors
        return out

    # -- alter (client.h:1920-2099 KuduTableAlterer) ------------------------------

    def alter_table(self, name: str) -> "Alterer":
        return Alterer(self, name)

    # replication bounds (master/catalog_manager.cc --min_num_replicas /
    # --max_num_replicas defaults); even factors need the unsafe flag
    MIN_REPLICATION_FACTOR = 1
    MAX_REPLICATION_FACTOR = 7

    def set_replication_factor(self, name: str, factor: int,
                               allow_unsafe: bool = False) -> None:
        """≈ `kudu table set_replication_factor`
        (tools/tool_action_table.cc:2278-2282). No replicas exist in a
        Spark/parquet warehouse — durability is the storage layer's —
        but the factor is table METADATA in Kudu, so it round-trips
        here as the ``replication_factor`` table property (surfaced by
        DESCRIBE FORMATTED via props, SHOW CREATE TABLE's
        TBLPROPERTIES, and statistics()). Validation mirrors the
        master's (catalog_manager.cc:586-605): bounds [1, 7], odd
        unless ``allow_unsafe`` (--allow_unsafe_replication_factor)."""
        try:
            factor = int(factor)
        except (TypeError, ValueError):
            raise KuduSparkError(
                f"Unable to parse replication factor value: {factor}.")
        if not (self.MIN_REPLICATION_FACTOR <= factor <= self.MAX_REPLICATION_FACTOR):
            raise KuduSparkError(
                f"illegal replication factor {factor}: must be in "
                f"[{self.MIN_REPLICATION_FACTOR}, {self.MAX_REPLICATION_FACTOR}]")
        if factor % 2 == 0 and not allow_unsafe:
            raise KuduSparkError(
                f"illegal replication factor {factor}: replication "
                "factor must be odd (pass allow_unsafe=True to override)")
        self.alter_table(name).set_property("replication_factor", factor).apply()

    def set_owner(self, name: str, owner: str) -> None:
        """≈ KuduTableAlterer::SetOwner (client.h:1936; surfaced by
        `kudu table describe`'s OWNER line,
        tools/tool_action_table.cc:1975-1976). Owner is table METADATA
        — stored as the ``owner`` property, shown by SHOW CREATE
        TABLE's TBLPROPERTIES and statistics()/SHOW TABLE STATS."""
        if not owner or not str(owner).strip():
            raise KuduSparkError("table owner must be a non-empty string")
        self.alter_table(name).set_property("owner", str(owner).strip()).apply()

    def fsck(self, name: str | None = None, repair: bool = False) -> dict:
        """Warehouse integrity check — the offline half of ksck plus
        `kudu fs check`'s missing/orphaned-block report
        (tools/tool_action_fs.cc:261-308; ksck.h). Per table:

          - ``missing``: manifest-referenced data files absent from
            storage (unreadable table versions — the fatal class);
          - ``size_mismatch``: present but with a size different from
            the manifest's record (torn/overwritten file);
          - ``bad_sidecars``: referenced presence/bloom sidecars that
            are absent or unreadable (probes decline; non-fatal);
          - ``orphans``: data-dir files referenced by NO commit in the
            whole log and by no in-flight transaction marker — commit
            attempts that lost their race and crashed before cleanup.
            ``repair=True`` deletes them (= `kudu fs check --repair`
            deleting orphaned blocks; like the reference tool, repair
            is only safe on a QUIET warehouse — a concurrent writer's
            just-staged files are indistinguishable from debris).
            Files referenced only by OLD versions are NOT orphans
            (vacuum owns those, with its retention guard), and a
            hand-pruned log disables repair outright — pruned commits'
            historical references can't be enumerated, and an
            integrity checker must never be the thing that loses data;
          - ``log_gaps``: missing commit versions in a hand-pruned log
            (replays fall back to listing — slower, not wrong).

        O(metadata): one log read + one data-dir listing per table,
        zero data-file scans. Content verification is ``checksum()``'s
        job (ksck's CHECKSUM scan), which does scan."""
        from kudu_spark.meta import LOG_DIR, read_log
        from kudu_spark.plans import presence

        names = [name] if name else self.list_tables(include_soft_deleted=True)
        markers = self._txn_markers()  # one marker read for the whole run
        out: dict[str, dict] = {}
        for tname in names:
            st = self._state_or_none(tname)
            if st is None:
                raise TableNotFoundError(tname)
            root = self._table_root(tname)
            rep: dict = {"files": len(st.files), "missing": [],
                         "size_mismatch": [], "bad_sidecars": [],
                         "orphans": [], "log_gaps": []}
            for f in st.files:
                full = os.path.join(root, f.path)
                if not self._env.exists(full):
                    rep["missing"].append(f.path)
                elif self._env.size(full) != f.bytes:
                    rep["size_mismatch"].append(f.path)
            for rel in sorted({f.bloom for f in st.files if f.bloom}):
                full = os.path.join(root, rel)
                # presence sidecars audit their shard bytes against the
                # meta (presence.audit); legacy sidecars must exist
                if not (presence.audit(full) if rel.endswith(presence.SUFFIX)
                        else self._env.exists(full)):
                    rep["bad_sidecars"].append(rel)
            # orphans: never referenced by ANY commit (lost-race
            # debris). Seed with the LIVE file set: a hand-pruned log
            # prefix must never make a live file (visible only through
            # a checkpointed replay) read as unreferenced — repair
            # deleting it would be data loss, the one failure mode an
            # integrity checker can't have
            referenced: set = {f.path for f in st.files}
            referenced |= {f.bloom for f in st.files if f.bloom}
            versions = []
            for c in read_log(root):
                versions.append(c["version"])
                for a in c.get("actions", []):
                    if a["type"] == "add":
                        referenced.add(a["file"]["path"])
                        if a["file"].get("bloom"):
                            referenced.add(a["file"]["bloom"])
                for rel in c.get("cdc_repair", []):
                    referenced.add(rel)
            # staged-but-unpublished txn participants are NOT orphans:
            # recover() still needs those files
            for m in markers:
                part = m.get("participants", {}).get(tname)
                if part:
                    for e in part.get("entries", []):
                        referenced.add(e["path"])
                        if e.get("bloom"):
                            referenced.add(e["bloom"])
            log_pruned = bool(versions) and (
                min(versions) > 1
                or sorted(versions) != list(range(min(versions), max(versions) + 1))
            )
            data_dir = os.path.join(root, "data")
            for n in self._env.listdir(data_dir):
                rel = os.path.join("data", n)
                if rel not in referenced and (
                    n.endswith(".parquet") or n.endswith(".bloom")
                    or n.endswith(".pidx")
                ):
                    rep["orphans"].append(rel)
                    # never repair against an incomplete reference set:
                    # files added by PRUNED commits and referenced only
                    # by historical versions would read as debris
                    if repair and not log_pruned:
                        full = os.path.join(data_dir, n)
                        if self._env.isdir(full):
                            self._env.rmtree(full)
                        else:
                            self._env.unlink(full, missing_ok=True)
            rep["log_gaps"] = sorted(
                set(range(1, max(versions) + 1)) - set(versions)
            ) if versions else []
            if repair and rep["bad_sidecars"] and not log_pruned:
                # repair = shed the unreadable sidecar references in one
                # re-point commit: probes DECLINE cleanly (coverage <
                # 1.0 in statistics) instead of failing mid-task, and
                # compact(full=True) rebuilds honest coverage. A direct
                # rebuild from the current files could silently DROP an
                # absorbed delete family (keys whose source files are
                # gone), resurrecting deleted keys in older sidecars —
                # an integrity tool must never trade corruption for a
                # wrong answer.
                from kudu_spark.meta import FileEntry
                from kudu_spark.table import Table

                t = Table(self.spark, tname, root)
                bad = set(rep["bad_sidecars"])
                entries = []
                for f in st.files:
                    if f.bloom in bad:
                        nf = FileEntry.from_json(f.to_json())
                        nf.bloom = None
                        entries.append(nf)
                if entries:
                    t._commit(st, "fsck_repair", entries,
                              removes=[e.path for e in entries],
                              retries=1, restamp_seq=False)
                    rep["repaired_sidecars"] = sorted(bad)
            rep["ok"] = not (rep["missing"] or rep["size_mismatch"]
                             or rep["bad_sidecars"])
            out[tname] = rep
        return out

    def locate_row(self, name: str, pk_values: dict) -> dict:
        """Partition-function evaluation for a row (≈ `kudu table
        locate_row`, tools/tool_action_table.cc:1380-1431), on the
        driver (``table.locate``). Raises KuduSparkError for a key
        value the driver cannot coerce to its column type exactly."""
        loc = locate(self.table(name).state(), pk_values)
        if loc["range"] == -1:
            raise KuduSparkError("row does not fall in any range partition")
        return loc


def _bounds_overlap(lo1, hi1, lo2, hi2) -> bool:
    """Do range partitions [lo1,hi1) and [lo2,hi2) overlap? Bounds are
    scalars or prefix tuples (compound range keys); None = unbounded.
    Two half-open intervals overlap iff each starts below the other's
    end — lexicographic with Kudu's short-bound-pads-with-negative-inf
    convention (a Python prefix tuple already compares that way).
    Incomparable bound types conservatively report overlap."""
    def starts_below(lo, hi) -> bool:
        if lo is None or hi is None:
            return True
        lt, ht = RangeSpec._tuple(lo), RangeSpec._tuple(hi)
        try:
            return lt[: len(ht)] < ht
        except TypeError:
            return True
    return starts_below(lo1, hi2) and starts_below(lo2, hi1)


def check_property(key: str, value) -> None:
    """Reject a malformed maintenance property when it is set, as Kudu
    rejects bad extra-config values at ALTER time. The compaction
    policy parses these on every fold, so a value it cannot parse
    would commit and then stop every fold of the table."""
    try:
        if key == "auto_compact_min_ratio":
            ok = 0.0 <= float(value) <= 1.0
        elif key in ("auto_compact_min_delta_bytes", "auto_compact_budget_bytes"):
            ok = int(value) >= 0
        elif key == "auto_compact_mode":
            ok = str(value).lower() in ("inline", "async", "deferred")
        else:
            return
    except (TypeError, ValueError):
        ok = False
    if not ok:
        raise KuduSparkError(f"illegal value for table property {key}: {value!r}")


class Alterer:
    """Accumulates schema/partition changes; ``apply()`` is one atomic
    commit. Type/nullability changes are rejected like Kudu
    (docs/known_issues.adoc:59-62)."""

    def __init__(self, engine: Engine, name: str):
        self.engine = engine
        self.table = engine.table(name)
        self._adds: list[tuple] = []
        self._drops: list[str] = []
        self._renames: dict[str, str] = {}
        self._defaults: dict[str, object] = {}
        self._comments: dict[str, str | None] = {}
        self._attr_sets: list[tuple[str, dict]] = []
        self._props: dict[str, object] = {}
        self._range_adds: list[list] = []
        self._range_drops: list[list] = []

    def add_column(self, name: str, type_: str, nullable: bool = True, default=None,
                   immutable: bool = False, encoding: str | None = None,
                   compression: str | None = None, block_size: int | None = None) -> "Alterer":
        self._adds.append((name, type_, nullable, default, immutable,
                           {"encoding": encoding, "compression": compression,
                            "block_size": block_size}))
        return self

    def drop_column(self, name: str) -> "Alterer":
        self._drops.append(name)
        return self

    def rename_column(self, old: str, new: str) -> "Alterer":
        self._renames[old] = new
        return self

    def set_default(self, name: str, default) -> "Alterer":
        self._defaults[name] = default
        return self

    def set_column_comment(self, name: str, comment: str | None) -> "Alterer":
        """ColumnSchemaDelta.comment (common.proto)."""
        self._comments[name] = comment
        return self

    def set_column_attributes(self, name: str, encoding: str | None = None,
                              compression: str | None = None,
                              block_size: int | None = None) -> "Alterer":
        """Change an existing column's storage attributes
        (KuduColumnSpec Encoding/Compression/BlockSize via
        AlterColumn, client.h:1917; CLI column_set_encoding/
        column_set_compression/column_set_block_size,
        tool_action_table.cc:2202-2216). Takes effect for files
        written AFTER the alter — exactly Kudu's contract, where only
        newly-flushed/compacted cfiles pick up the new attributes."""
        self._attr_sets.append((name, {
            k: v for k, v in (("encoding", encoding),
                              ("compression", compression),
                              ("block_size", block_size)) if v is not None
        }))
        return self

    def set_property(self, key: str, value) -> "Alterer":
        """Table-level extra config (AlterTable SET ..., client.h
        KuduTableAlterer::AlterExtraConfig); stored in commit props and
        folded into TableState.props. Maintenance properties are
        checked here (check_property)."""
        check_property(key, value)
        self._props[key] = value
        return self

    def add_range_partition(self, lower, upper, hash_buckets=None) -> "Alterer":
        """Add a range partition online (client.h:2006); ``hash_buckets``
        gives the new range a custom hash schema (per-range custom hash,
        partition.h:512-517) — an int or per-dimension list."""
        self._range_adds.append([lower, upper, hash_buckets])
        return self

    def drop_range_partition(self, lower, upper) -> "Alterer":
        self._range_drops.append([lower, upper])
        return self

    def apply(self, _attempts: int = 5) -> int:
        """One atomic alter commit. On a lost commit race the WHOLE
        alter rebuilds against fresh state and retries: a blind
        version-bump retry would republish a schema/spec computed from
        the stale snapshot, silently undoing whatever the concurrent
        winner changed (lost update — Kudu avoids this class by
        serializing DDL through the master's catalog lock;
        optimistic-concurrency's equivalent is revalidate-and-rebuild,
        the same discipline as _commit_revalidated on the write path)."""
        from kudu_spark.errors import ConcurrentCommitError

        try:
            return self._apply_once()
        except ConcurrentCommitError:
            if _attempts <= 1:
                raise
            return self.apply(_attempts - 1)

    def _apply_once(self) -> int:
        st = self.table.state()
        sch = st.schema
        cols = [ColumnSpec(**c.__dict__) for c in sch.columns]
        pk = set(sch.pk)
        for name in self._drops:
            if name in pk:
                raise SchemaError(f"cannot drop PK column {name}")
            cols = [c for c in cols if c.name != name]
        for old, new in self._renames.items():
            if old in pk:
                raise SchemaError(f"cannot rename PK column {old}")  # Kudu allows; we defer
            for c in cols:
                if c.name == old:
                    c.name = new
        for name, default in self._defaults.items():
            for c in cols:
                if c.name == name:
                    c.default = default
        for name, comment in self._comments.items():
            for c in cols:
                if c.name == name:
                    c.comment = comment
        for name, attrs in self._attr_sets:
            spec = next((c for c in cols if c.name == name), None)
            if spec is None:
                raise SchemaError(f"no such column: {name}")
            for k, v in attrs.items():
                setattr(spec, k, v)
        next_id = sch.next_col_id
        for name, type_, nullable, default, immutable, attrs in self._adds:
            if any(c.name == name for c in cols):
                raise SchemaError(f"column {name} already exists")
            if not nullable and default is None:
                raise SchemaError(f"new column {name} must be nullable or have a default")
            cols.append(
                ColumnSpec(id=next_id, name=name, type=type_, nullable=nullable,
                           default=default, immutable=immutable,
                           **{k: v for k, v in attrs.items() if v is not None})
            )
            next_id += 1
        new_schema = Schema(columns=cols, pk=sch.pk, version=sch.version + 1,
                            next_col_id=next_id)

        pspec = None
        if self._range_adds or self._range_drops:
            rs = st.partition_spec.range_spec
            if not rs.enabled:
                raise KuduSparkError("table has no range component")
            ranges = [list(r) for r in rs.ranges]
            for lo, hi in self._range_drops:
                if [lo, hi] not in ranges:
                    raise KuduSparkError(f"no such range partition [{lo},{hi})")
                ranges.remove([lo, hi])
            added_overrides = {}  # keyed in the NEW range-id space
            for lo, hi, hb in self._range_adds:
                clash = next((r for r in ranges if _bounds_overlap(lo, hi, r[0], r[1])),
                             None)
                if clash is not None:
                    # Kudu rejects overlapping range adds (AlreadyPresent,
                    # master catalog validation); silently appending a
                    # duplicate would shadow the existing range in
                    # range_id_of and split its rows across two ids
                    raise KuduSparkError(
                        f"new range partition [{lo}, {hi}) overlaps existing "
                        f"range [{clash[0]}, {clash[1]})")
                ranges.append([lo, hi])
                if hb is not None:
                    dims = st.partition_spec.hash_dims
                    hb = [int(hb)] * len(dims) if isinstance(hb, int) else [int(x) for x in hb]
                    added_overrides[len(ranges) - 1] = hb
            if self._range_drops:
                overrides = added_overrides  # old ids remapped below
            else:
                overrides = dict(st.partition_spec.hash_overrides) | added_overrides
            # preserve the compound-range column list: rebuilding with
            # only `rs.column` (None for compound keys) silently turned
            # the spec's `enabled` off, disabling range enforcement —
            # Kudu's online range ops keep the partition schema intact
            # (client.h:2006-2099, partition.h:273)
            pspec = PartitionSpec(st.partition_spec.hash_dims,
                                  RangeSpec(rs.column, ranges, rs.columns),
                                  overrides)

        if self._range_drops:
            # dropping ranges removes their files and remaps surviving ids
            return self._apply_with_range_remap(st, new_schema, pspec)
        return self.table._commit(st, "alter", [], schema=new_schema,
                                  partition_spec=pspec, props=self._props or None,
                                  retries=1)

    def _apply_with_range_remap(self, st, new_schema, pspec) -> int:
        """Dropping range partitions removes their files AND remaps the
        range ids of every surviving file in one commit."""
        old_ranges = st.partition_spec.range_spec.ranges
        new_ranges = pspec.range_spec.ranges
        id_map = {}
        for old_id, r in enumerate(old_ranges):
            r = list(r)
            if r in [list(x) for x in new_ranges]:
                id_map[old_id] = [list(x) for x in new_ranges].index(r)
        pspec.hash_overrides = {
            id_map[k]: v
            for k, v in st.partition_spec.hash_overrides.items()
            if k in id_map
        } | pspec.hash_overrides  # adds were keyed in the new space already
        entries = []
        removes = []
        dropped_blooms = {f.bloom for f in st.files
                          if f.bloom and f.partition.get("range") not in id_map}
        for f in st.files:
            rid = f.partition.get("range")
            removes.append(f.path)
            if rid in id_map:
                from kudu_spark.meta import FileEntry

                nf = FileEntry(**{**f.__dict__})
                nf.partition = {**f.partition, "range": id_map[rid]}
                if nf.bloom and nf.bloom in dropped_blooms:
                    # the sidecar also covered files in a DROPPED range:
                    # its key set now overcounts vanished rows, so the
                    # surviving files shed the reference — probes
                    # decline (loudly, with statistics coverage < 1.0)
                    # until compaction rebuilds an honest sidecar
                    nf.bloom = None
                entries.append(nf)
        # range-drop remaps every file's range id against the state read
        # above; retries=1 because a blind retry would remap a stale
        # file list — apply()'s outer loop rebuilds from fresh state
        # instead. restamp_seq=False: the re-added entries are EXISTING
        # files whose manifest seq must survive (it orders base vs
        # delta in the merge window; re-stamping resurrected deleted
        # rows)
        return self.table._commit(
            st, "alter", entries, removes=removes, schema=new_schema,
            partition_spec=pspec, retries=1, restamp_seq=False
        )

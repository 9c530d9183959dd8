"""SQL DDL over engine tables — the Impala-on-Kudu catalog surface.

Completes ``Engine.sql``'s statement coverage with the DDL Impala
routes to the Kudu catalog (docs/kudu_impala_integration.adoc:150-420):

    CREATE TABLE [IF NOT EXISTS] t (
        col TYPE [PRIMARY KEY] [NOT NULL|NULL] [DEFAULT lit]
            [ENCODING e] [COMPRESSION c] [BLOCK_SIZE n] [COMMENT 's'],
        ...,
        [PRIMARY KEY (a, b)]
    )
    PARTITION BY HASH [(cols)] PARTITIONS n [, HASH (cols) PARTITIONS m]
                 [, RANGE (cols) (PARTITION lo <= VALUES < hi, ...)]
    STORED AS KUDU
    [TBLPROPERTIES ('k' = 'v', ...)]

    CREATE TABLE t PRIMARY KEY (cols) PARTITION BY ... STORED AS KUDU
        AS SELECT ...                                     -- CTAS
    DROP TABLE [IF EXISTS] t [PURGE]
    ALTER TABLE t RENAME TO t2
    ALTER TABLE t ADD [IF NOT EXISTS] RANGE PARTITION <bounds>
    ALTER TABLE t DROP RANGE PARTITION <bounds>
    ALTER TABLE t ADD COLUMNS (col TYPE [DEFAULT lit] [COMMENT 's'], ...)
    ALTER TABLE t DROP [COLUMN] col
    ALTER TABLE t CHANGE [COLUMN] old new TYPE            -- rename
    ALTER TABLE t SET TBLPROPERTIES ('k' = 'v', ...)
    ALTER TABLE t SET OWNER [USER] 'name'
    ALTER TABLE t ALTER [COLUMN] col SET DEFAULT lit | SET COMMENT 's'
                                   | DROP DEFAULT

Range bound grammar (kudu_impala_integration.adoc:236-246):
``PARTITION VALUES < v``, ``PARTITION v <= VALUES < w``,
``PARTITION v <= VALUES``, ``PARTITION VALUE = v`` (single-value:
int upper = v+1, string upper = v + "\\0"), with tuple syntax
``('va', 1) <= VALUES < ('ab', 2)`` for compound range keys.

Statements map onto ``Engine.create_table`` / ``drop_table`` /
``Alterer`` — the same metadata-log operations as the Python API, so
concurrent-DDL safety and range enforcement are identical. DROP TABLE
follows Kudu's soft-delete default (soft_delete_table; ``PURGE``
removes immediately); Impala's unsupported-for-Kudu keywords
(PARTITIONED / LOCATION / ROW FORMAT) are rejected, as Impala rejects
them. Each statement returns the same one-row summary frame as the
DML module (rows_affected = CTAS row count, else 0).
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from kudu_spark.errors import KuduSparkError, SchemaError
from kudu_spark.sql_dml import (
    _find_top_level_keyword,
    _matching_paren,
    _split_top_level,
)

if TYPE_CHECKING:  # pragma: no cover
    from kudu_spark.engine import Engine

_DDL_HEAD = re.compile(
    r"^\s*(CREATE|DROP|ALTER)\s+TABLE\b|^\s*(COMMENT)\s+ON\s+TABLE\b",
    re.IGNORECASE)

_TYPE_MAP = {
    "bigint": "bigint", "int": "int", "integer": "int",
    "smallint": "smallint", "tinyint": "tinyint",
    "string": "string", "float": "float", "double": "double",
    "real": "double", "boolean": "boolean", "bool": "boolean",
    "timestamp": "timestamp", "date": "date", "binary": "binary",
}


def is_ddl(sql: str) -> bool:
    from kudu_spark.sql_dml import strip_comments

    return _DDL_HEAD.match(strip_comments(sql)) is not None


def run_ddl(engine: "Engine", sql: str):
    from kudu_spark.sql_dml import strip_comments

    text = strip_comments(sql).strip().rstrip(";").strip()
    m = _DDL_HEAD.match(text)
    head = (m.group(1) or m.group(2)).upper()
    if head == "CREATE":
        op, table, n, v = _run_create(engine, text)
    elif head == "DROP":
        op, table, n, v = _run_drop(engine, text)
    elif head == "COMMENT":
        op, table, n, v = _run_comment_on(engine, text)
    else:
        op, table, n, v = _run_alter(engine, text)
    return engine.spark.createDataFrame(
        [(op, table, n, v)],
        "operation string, table string, rows_affected bigint, version bigint",
    )


# -- literals and types ----------------------------------------------------


def _parse_literal(tok: str):
    tok = tok.strip()
    u = tok.upper()
    if u == "NULL":
        return None
    if u == "TRUE":
        return True
    if u == "FALSE":
        return False
    if tok[:1] in ("'", '"'):
        if len(tok) < 2 or tok[-1] != tok[0]:
            raise KuduSparkError(f"malformed string literal: {tok!r}")
        q = tok[0]
        return tok[1:-1].replace(q + q, q).replace("\\" + q, q)
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        raise KuduSparkError(f"cannot parse literal: {tok!r}")


def _map_type(tok: str) -> str:
    t = tok.strip().lower()
    m = re.match(r"(varchar|char|decimal)\s*\(([^)]*)\)$", t)
    if m:
        kind = m.group(1)
        if kind == "char":
            kind = "varchar"  # CHAR pads in Impala; engine stores VARCHAR(n)
        return f"{kind}({m.group(2).replace(' ', '')})"
    if t == "decimal":
        return "decimal(10,0)"
    if t in _TYPE_MAP:
        return _TYPE_MAP[t]
    raise SchemaError(f"unsupported column type for Kudu tables: {tok!r}")


# -- column definitions ----------------------------------------------------

_COL_ATTR_KEYWORDS = ("PRIMARY", "NOT", "NULL", "DEFAULT", "ENCODING",
                      "COMPRESSION", "BLOCK_SIZE", "COMMENT")


def _tokenize(s: str) -> list[str]:
    """Split a column-def tail into words and quoted/parenthesized
    tokens (literal-aware)."""
    from kudu_spark.sql_dml import _skip_string

    toks, i, n = [], 0, len(s)
    while i < n:
        ch = s[i]
        if ch.isspace():
            i += 1
        elif ch in ("'", '"'):
            j = _skip_string(s, i)
            toks.append(s[i:j])
            i = j
        elif ch == "(":
            j = _matching_paren(s, i)
            toks.append(s[i:j + 1])
            i = j + 1
        else:
            j = i
            while j < n and not s[j].isspace() and s[j] not in "('\"":
                j += 1
            toks.append(s[i:j])
            i = j
    return toks


def _parse_coldef(item: str) -> dict:
    """``name TYPE [attrs...]`` -> column dict + flags."""
    toks = _tokenize(item.strip())
    if len(toks) < 2:
        raise KuduSparkError(f"malformed column definition: {item.strip()!r}")
    name = toks[0]
    type_tok = toks[1]
    # DECIMAL(...) / VARCHAR(...) arrive as two tokens ("DECIMAL", "(12,2)")
    k = 2
    if k < len(toks) and toks[k].startswith("(") and \
            type_tok.lower() in ("decimal", "varchar", "char"):
        type_tok += toks[k]
        k += 1
    out = {"name": name, "type": _map_type(type_tok), "nullable": True,
           "pk": False, "default": None, "comment": None,
           "encoding": None, "compression": None, "block_size": None}
    while k < len(toks):
        t = toks[k].upper()
        if t == "PRIMARY" and k + 1 < len(toks) and toks[k + 1].upper() == "KEY":
            out["pk"] = True
            k += 2
        elif t == "NOT" and k + 1 < len(toks) and toks[k + 1].upper() == "NULL":
            out["nullable"] = False
            k += 2
        elif t == "NULL":
            out["nullable"] = True
            k += 1
        elif t in ("DEFAULT", "ENCODING", "COMPRESSION", "BLOCK_SIZE", "COMMENT"):
            if k + 1 >= len(toks):
                raise KuduSparkError(f"{t} needs a value in: {item.strip()!r}")
            val = toks[k + 1]
            if t == "DEFAULT":
                out["default"] = _parse_literal(val)
            elif t == "COMMENT":
                out["comment"] = _parse_literal(val)
            elif t == "BLOCK_SIZE":
                out["block_size"] = int(val)
            else:
                out[t.lower()] = val
            k += 2
        else:
            raise KuduSparkError(f"unexpected token {toks[k]!r} in column def: {item.strip()!r}")
    return out


# -- range bounds ----------------------------------------------------------


def _parse_bound_value(tok: str):
    tok = tok.strip()
    if tok.startswith("("):  # compound tuple bound
        inner = tok[1:_matching_paren(tok, 0)]
        return [_parse_literal(p) for p in _split_top_level(inner)]
    return _parse_literal(tok)


def _successor(v):
    """Smallest value greater than v, for PARTITION VALUE = v."""
    if isinstance(v, bool) or not isinstance(v, (int, str)):
        raise KuduSparkError(
            f"PARTITION VALUE = needs an int or string bound, got {v!r}")
    return v + 1 if isinstance(v, int) else v + "\x00"


def _parse_partition_bounds(spec: str) -> tuple:
    """One ``PARTITION ...`` item -> (lower, upper) with None = open."""
    s = spec.strip()
    if s.upper().startswith("PARTITION"):
        s = s[len("PARTITION"):].strip()
    m = re.match(r"VALUE\s*=\s*(.+)$", s, re.IGNORECASE | re.DOTALL)
    if m:
        v = _parse_bound_value(m.group(1))
        if isinstance(v, list):
            raise KuduSparkError("PARTITION VALUE = does not take tuple bounds")
        return v, _successor(v)
    vi = _find_top_level_keyword(s, "VALUES")
    if vi < 0:
        raise KuduSparkError(f"malformed range partition spec: {spec.strip()!r}")
    left, right = s[:vi].strip(), s[vi + 6:].strip()
    lower = upper = None
    if left:
        lm = re.match(r"(.*?)\s*(<=|<)\s*$", left, re.DOTALL)
        if not lm:
            raise KuduSparkError(f"malformed lower bound: {left!r}")
        lower = _parse_bound_value(lm.group(1))
        if lm.group(2) == "<":
            lower = _successor(lower) if not isinstance(lower, list) else \
                (_ for _ in ()).throw(KuduSparkError(
                    "exclusive (<) lower bounds are not supported for tuple bounds"))
    if right:
        rm = re.match(r"^(<=|<)\s*(.*)$", right, re.DOTALL)
        if not rm:
            raise KuduSparkError(f"malformed upper bound: {right!r}")
        upper = _parse_bound_value(rm.group(2))
        if rm.group(1) == "<=":
            upper = _successor(upper) if not isinstance(upper, list) else \
                (_ for _ in ()).throw(KuduSparkError(
                    "inclusive (<=) upper bounds are not supported for tuple bounds"))
    return lower, upper


# -- CREATE TABLE ----------------------------------------------------------


def _parse_partition_by(clause: str, pk: list[str]) -> tuple[list, dict | None]:
    """``HASH (a,b) PARTITIONS n, HASH ... , RANGE (c) (...)`` ->
    (hash_partitions, range_partition)."""
    hash_parts: list[dict] = []
    range_part: dict | None = None
    for item in _split_top_level(clause):
        it = item.strip()
        m = re.match(r"HASH\s*(\([^)]*\))?\s*PARTITIONS\s+(\d+)$",
                     it, re.IGNORECASE | re.DOTALL)
        if m:
            cols = ([c.strip() for c in m.group(1)[1:-1].split(",")]
                    if m.group(1) else list(pk))
            hash_parts.append({"columns": cols, "buckets": int(m.group(2))})
            continue
        m = re.match(r"RANGE\s*\(([^)]*)\)\s*(\(.*\))$", it, re.IGNORECASE | re.DOTALL)
        if m:
            if range_part is not None:
                raise KuduSparkError("multiple RANGE clauses in PARTITION BY")
            cols = [c.strip() for c in m.group(1).split(",")]
            body = m.group(2)[1:-1]
            ranges = [list(_parse_partition_bounds(p))
                      for p in _split_top_level(body)]
            if len(cols) == 1:
                range_part = {"column": cols[0], "ranges": ranges}
            else:
                range_part = {"columns": cols, "ranges": ranges}
            continue
        raise KuduSparkError(f"cannot parse PARTITION BY item: {it[:60]!r}")
    return hash_parts, range_part


def _parse_tblproperties(clause: str) -> dict:
    props = {}
    for item in _split_top_level(clause):
        it = item.strip()
        if not it:
            continue
        eq = it.find("=")
        if eq < 0:
            raise KuduSparkError(f"malformed TBLPROPERTIES item: {it!r}")
        props[str(_parse_literal(it[:eq]))] = str(_parse_literal(it[eq + 1:]))
    return props


def _run_create(engine: "Engine", text: str):
    for bad in ("PARTITIONED", "LOCATION", "ROW FORMAT", "ROWFORMAT"):
        if _find_top_level_keyword(text, bad) >= 0:
            raise KuduSparkError(
                f"{bad} is not supported for Kudu tables "
                "(kudu_impala_integration.adoc:270-274)")
    m = re.match(
        r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s*(.*)$",
        text, re.IGNORECASE | re.DOTALL)
    if not m:
        raise KuduSparkError("cannot parse CREATE TABLE")
    if_not_exists = bool(m.group(1))
    name = m.group(2)
    rest = m.group(3).strip()

    cols: list[dict] = []
    pk: list[str] = []
    if rest.startswith("("):
        end = _matching_paren(rest, 0)
        for item in _split_top_level(rest[1:end]):
            it = item.strip()
            pm = re.match(r"PRIMARY\s+KEY\s*\(([^)]*)\)$", it, re.IGNORECASE)
            if pm:
                pk = [c.strip() for c in pm.group(1).split(",")]
            else:
                cols.append(_parse_coldef(it))
        rest = rest[end + 1:].strip()
    else:
        pm = re.match(r"PRIMARY\s+KEY\s*\(([^)]*)\)\s*(.*)$",
                      rest, re.IGNORECASE | re.DOTALL)
        if pm:  # CTAS header form: CREATE TABLE t PRIMARY KEY (...) ...
            pk = [c.strip() for c in pm.group(1).split(",")]
            rest = pm.group(2).strip()
    pk = pk or [c["name"] for c in cols if c["pk"]]
    inline_pk = [c["name"] for c in cols if c["pk"]]
    if inline_pk and pk != inline_pk and set(pk) != set(inline_pk):
        raise SchemaError("inline PRIMARY KEY conflicts with PRIMARY KEY (...) clause")

    hash_parts: list = []
    range_part = None
    pi = _find_top_level_keyword(rest, "PARTITION")
    if pi >= 0:
        after = rest[pi + len("PARTITION"):].lstrip()
        if not after.upper().startswith("BY"):
            raise KuduSparkError("expected PARTITION BY")
        after = after[2:].lstrip()
        # the partition clause runs until STORED / TBLPROPERTIES /
        # COMMENT / AS
        stop = len(after)
        for kw in ("STORED", "TBLPROPERTIES", "COMMENT"):
            j = _find_top_level_keyword(after, kw)
            if 0 <= j < stop:
                stop = j
        clause = after[:stop].strip()
        hash_parts, range_part = _parse_partition_by(clause, pk)
        rest = rest[:pi] + after[stop:]

    sm = _find_top_level_keyword(rest, "STORED")
    if sm >= 0:
        tail = rest[sm + len("STORED"):].lstrip()
        if not re.match(r"AS\s+KUDU\b", tail, re.IGNORECASE):
            raise KuduSparkError("engine tables must be STORED AS KUDU")
        rest = rest[:sm] + tail[len("AS"):].lstrip()[len("KUDU"):]

    props: dict = {}
    ti = _find_top_level_keyword(rest, "TBLPROPERTIES")
    if ti >= 0:
        after = rest[ti + len("TBLPROPERTIES"):].lstrip()
        if not after.startswith("("):
            raise KuduSparkError("TBLPROPERTIES needs a (...) list")
        end = _matching_paren(after, 0)
        props = _parse_tblproperties(after[1:end])
        rest = rest[:ti] + after[end + 1:]

    ci = _find_top_level_keyword(rest, "COMMENT")
    if ci >= 0:
        after = rest[ci + len("COMMENT"):].lstrip()
        cm = re.match(r"('(?:[^']|'')*')", after)
        if not cm:
            raise KuduSparkError("table COMMENT needs a string literal")
        props.setdefault("comment", str(_parse_literal(cm.group(1))))
        rest = rest[:ci] + after[cm.end():]

    select_sql = None
    ai = _find_top_level_keyword(rest, "AS")
    if ai >= 0:
        select_sql = rest[ai + 2:].strip()
        rest = rest[:ai]
    if rest.strip():
        raise KuduSparkError(f"unexpected tokens in CREATE TABLE: {rest.strip()[:60]!r}")
    if not pk:
        raise SchemaError("Kudu tables require a PRIMARY KEY")

    src = None
    if select_sql:
        engine._register_views(select_sql)
        src = engine.spark.sql(select_sql)
        if not cols:
            for f in src.schema.fields:
                cols.append({"name": f.name, "type": f.dataType.simpleString(),
                             "nullable": f.name not in pk, "pk": f.name in pk,
                             "default": None, "comment": None, "encoding": None,
                             "compression": None, "block_size": None})
    elif not cols:
        raise KuduSparkError("CREATE TABLE needs column definitions or AS SELECT")

    schema = [{"name": c["name"], "type": c["type"], "nullable": c["nullable"],
               "encoding": c["encoding"], "compression": c["compression"],
               "block_size": c["block_size"]} for c in cols]
    defaults = {c["name"]: c["default"] for c in cols if c["default"] is not None}
    from kudu_spark.engine import check_property

    for k, v in props.items():
        check_property(k, v)  # before the table exists: a bad value creates nothing
    t = engine.create_table(
        name, schema, pk=pk,
        hash_partitions=hash_parts or None,
        range_partition=range_part,
        defaults=defaults or None,
        if_not_exists=if_not_exists,
    )
    comments = {c["name"]: c["comment"] for c in cols if c["comment"]}
    if props or comments:
        al = engine.alter_table(name)
        for k, v in props.items():
            al.set_property(k, v)
        for cname, cmt in comments.items():
            al.set_column_comment(cname, cmt)
        al.apply()
        t = engine.table(name)
    n = 0
    if src is not None:
        # one evaluation of the CTAS SELECT serves both the summary
        # count and the insert (a large SELECT must not re-run)
        src = src.persist()
        try:
            n = src.count()
            t.insert(src)
        finally:
            try:
                src.unpersist()
            except Exception:
                pass
        t = engine.table(name)
    return "CREATE TABLE", name, n, t.version


def _run_drop(engine: "Engine", text: str):
    m = re.match(
        r"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*(PURGE)?\s*$",
        text, re.IGNORECASE)
    if not m:
        raise KuduSparkError("cannot parse DROP TABLE")
    name = m.group(2)
    if m.group(1) and not engine.table_exists(name):
        return "DROP TABLE", name, 0, 0
    if m.group(3):
        engine.drop_table(name)
    else:
        # Kudu's default: soft-delete with the recall window
        engine.soft_delete_table(name)
    return "DROP TABLE", name, 0, 0


def _run_alter(engine: "Engine", text: str):
    m = re.match(r"ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+(.*)$",
                 text, re.IGNORECASE | re.DOTALL)
    if not m:
        raise KuduSparkError("cannot parse ALTER TABLE")
    name = m.group(1)
    body = m.group(2).strip()
    bu = body.upper()

    om = re.match(r"SET\s+OWNER\s+(?:USER\s+|ROLE\s+)?('(?:[^']|'')*'|[A-Za-z_]\w*)$",
                  body, re.IGNORECASE)
    if om:
        # Impala: ALTER TABLE t SET OWNER USER 'name' (≈ KuduTableAlterer
        # ::SetOwner, client.h:1936)
        raw = om.group(1)
        owner = str(_parse_literal(raw)) if raw.startswith("'") else raw
        engine.set_owner(name, owner)
        return "ALTER TABLE", name, 0, engine.table(name).version

    rm = re.match(r"RENAME\s+TO\s+([A-Za-z_]\w*)$", body, re.IGNORECASE)
    if rm:
        engine.rename_table(name, rm.group(1))
        return "ALTER TABLE", rm.group(1), 0, engine.table(rm.group(1)).version

    am = re.match(r"ADD\s+(IF\s+NOT\s+EXISTS\s+)?RANGE\s+PARTITION\s+(.*)$",
                  body, re.IGNORECASE | re.DOTALL)
    if am:
        lo, hi = _parse_partition_bounds("PARTITION " + am.group(2))
        if am.group(1):
            # IF NOT EXISTS suppresses ONLY the already-exists case —
            # checked against the range list up front; overlap or
            # validation errors (and retry exhaustion) must surface,
            # not report success for a partition that was never added
            rs = engine.table(name).state().partition_spec.range_spec
            if rs.enabled and [lo, hi] in [list(r) for r in rs.ranges]:
                return "ALTER TABLE", name, 0, engine.table(name).version
        engine.alter_table(name).add_range_partition(lo, hi).apply()
        return "ALTER TABLE", name, 0, engine.table(name).version

    dm = re.match(r"DROP\s+RANGE\s+PARTITION\s+(.*)$", body,
                  re.IGNORECASE | re.DOTALL)
    if dm:
        lo, hi = _parse_partition_bounds("PARTITION " + dm.group(1))
        engine.alter_table(name).drop_range_partition(lo, hi).apply()
        return "ALTER TABLE", name, 0, engine.table(name).version

    cm = re.match(r"ADD\s+COLUMNS\s*(\(.*\))$", body, re.IGNORECASE | re.DOTALL)
    if cm:
        al = engine.alter_table(name)
        for item in _split_top_level(cm.group(1)[1:-1]):
            c = _parse_coldef(item.strip())
            al.add_column(c["name"], c["type"], nullable=c["nullable"],
                          default=c["default"])
            if c["comment"]:
                al.set_column_comment(c["name"], c["comment"])
        al.apply()
        return "ALTER TABLE", name, 0, engine.table(name).version

    dcm = re.match(r"DROP\s+(?:COLUMN\s+)?([A-Za-z_]\w*)$", body, re.IGNORECASE)
    if dcm:
        engine.alter_table(name).drop_column(dcm.group(1)).apply()
        return "ALTER TABLE", name, 0, engine.table(name).version

    chm = re.match(r"CHANGE\s+(?:COLUMN\s+)?([A-Za-z_]\w*)\s+([A-Za-z_]\w*)\s+(\S+.*)$",
                   body, re.IGNORECASE | re.DOTALL)
    if chm:
        old, new = chm.group(1), chm.group(2)
        new_type = _map_type(chm.group(3).strip())
        st = engine.table(name).state()
        cur = st.schema.col(old).type if old in st.schema.names else None
        if cur is not None and cur != new_type:
            raise SchemaError(
                f"Kudu cannot change column types ({old}: {cur} -> {new_type}); "
                "CHANGE only renames (known_issues.adoc)")
        engine.alter_table(name).rename_column(old, new).apply()
        return "ALTER TABLE", name, 0, engine.table(name).version

    sm = re.match(r"SET\s+TBLPROPERTIES\s*(\(.*\))$", body, re.IGNORECASE | re.DOTALL)
    if sm:
        al = engine.alter_table(name)
        for k, v in _parse_tblproperties(sm.group(1)[1:-1]).items():
            al.set_property(k, v)
        al.apply()
        return "ALTER TABLE", name, 0, engine.table(name).version

    alm = re.match(
        r"ALTER\s+(?:COLUMN\s+)?([A-Za-z_]\w*)\s+"
        r"(SET\s+DEFAULT\s+(.*)|DROP\s+DEFAULT|SET\s+COMMENT\s+(.*)|"
        r"SET\s+ENCODING\s+(\w+)|SET\s+COMPRESSION\s+(\w+)|"
        r"SET\s+BLOCK_SIZE\s+(\d+))$",
        body, re.IGNORECASE | re.DOTALL)
    if alm:
        col = alm.group(1)
        al = engine.alter_table(name)
        action = alm.group(2).upper()
        if action.startswith("SET DEFAULT"):
            al.set_default(col, _parse_literal(alm.group(3)))
        elif action.startswith("DROP DEFAULT"):
            al.set_default(col, None)
        elif action.startswith("SET COMMENT"):
            al.set_column_comment(col, _parse_literal(alm.group(4)))
        elif action.startswith("SET ENCODING"):
            al.set_column_attributes(col, encoding=alm.group(5).upper())
        elif action.startswith("SET COMPRESSION"):
            al.set_column_attributes(col, compression=alm.group(6).upper())
        else:
            al.set_column_attributes(col, block_size=int(alm.group(7)))
        al.apply()
        return "ALTER TABLE", name, 0, engine.table(name).version

    raise KuduSparkError(f"cannot parse ALTER TABLE action: {body[:60]!r}")


def _run_comment_on(engine: "Engine", text: str):
    """COMMENT ON TABLE t IS 'x' | NULL (Impala's table-comment
    statement; ≈ `kudu table set_comment` / `clear_comment`,
    tool_action_table.cc). Stored as the `comment` table property;
    SHOW CREATE TABLE renders it as a COMMENT clause."""
    m = re.match(
        r"COMMENT\s+ON\s+TABLE\s+([A-Za-z_]\w*)\s+IS\s+"
        r"(NULL|'(?:[^']|'')*')\s*$",
        text, re.IGNORECASE | re.DOTALL)
    if not m:
        raise KuduSparkError(f"cannot parse COMMENT ON TABLE: {text[:60]!r}")
    name = m.group(1)
    val = _parse_literal(m.group(2))
    engine.alter_table(name).set_property("comment", "" if val is None else str(val)).apply()
    return "COMMENT ON TABLE", name, 0, engine.table(name).version


# -- introspection (Impala's SHOW / DESCRIBE for Kudu tables) ---------------

_SHOW_HEAD = re.compile(
    r"^\s*(SHOW\s+TABLES|SHOW\s+CREATE\s+TABLE|SHOW\s+RANGE\s+PARTITIONS|"
    r"SHOW\s+TABLE\s+STATS|SHOW\s+COLUMN\s+STATS|COMPUTE\s+STATS|DESCRIBE)\b",
    re.IGNORECASE)


def is_show(sql: str) -> bool:
    from kudu_spark.sql_dml import strip_comments

    return _SHOW_HEAD.match(strip_comments(sql)) is not None


def _fmt_bound(v) -> str:
    if isinstance(v, list):
        return "(" + ", ".join(_fmt_bound(x) for x in v) + ")"
    if isinstance(v, str):
        return '"' + v.replace('"', '\\"') + '"'
    return str(v)


def _fmt_range(lo, hi) -> str:
    """Kudu's range formatting (partition.cc RangePartitionDebugString):
    ``VALUES < hi`` / ``lo <= VALUES < hi`` / ``lo <= VALUES``."""
    if lo is None and hi is None:
        return "UNBOUNDED"
    if lo is None:
        return f"VALUES < {_fmt_bound(hi)}"
    if hi is None:
        return f"{_fmt_bound(lo)} <= VALUES"
    return f"{_fmt_bound(lo)} <= VALUES < {_fmt_bound(hi)}"


def _stat_str(v) -> str | None:
    """Stringify a footer stat the way Spark's ``cast("string")``
    would, so the footer and scan paths of SHOW COLUMN STATS agree.
    Fallback only — ``_format_stats_via_spark`` is authoritative
    (Python str() diverges from Spark for FLOAT widening and large
    doubles, ADVICE r7)."""
    import datetime

    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return str(v)


def _format_stats_via_spark(spark, st, footer: dict) -> dict | None:
    """Render footer min/max through Spark itself (one literal row,
    declared types, cast('string')) so a clean table's SHOW COLUMN
    STATS emits byte-identical text to the dirty table's scan path —
    str() diverges for FLOAT (float32 widening: '0.10000000149011612'
    vs '0.1') and large DOUBLE ('1e+20' vs '1.0E20') (ADVICE r7).
    Returns {column: (min_str, max_str)} or None on failure."""
    import re

    cols = st.schema.columns
    fields, row = [], []
    for i, c in enumerate(cols):
        typ = re.sub(r"(?:var)?char\s*\(\s*\d+\s*\)", "string",
                     c.type.strip(), flags=re.I)
        fields += [f"`__mn{i}` {typ}", f"`__mx{i}` {typ}"]
        mn, mx, _nulls = footer[c.name]
        row += [mn, mx]
    try:
        df = spark.createDataFrame([tuple(row)], ", ".join(fields))
        got = df.select(
            *[F.col(f.split("`")[1]).cast("string") for f in fields]
        ).collect()[0]
        return {c.name: (got[2 * i], got[2 * i + 1]) for i, c in enumerate(cols)}
    except Exception:
        return None


def _column_stats_from_footers(t, st) -> dict | None:
    """{column: [min, max, null_count]} aggregated from the parquet
    footers of a CLEAN table — metadata reads only, no Spark job over
    data. Returns None (caller falls back to the aggregate scan) when
    the table has pending deltas (superseded/deleted rows would
    pollute footer aggregates) or any footer lacks the needed stats
    (e.g. files written under an old schema missing a renamed/added
    column)."""
    import os as _os

    import pyarrow.parquet as pq

    from kudu_spark.table import _stat_bounds

    if any(f.kind == "delta" for f in st.files):
        return None
    out: dict = {c.name: [None, None, 0] for c in st.schema.columns}
    for f in st.files:
        try:
            md = pq.ParquetFile(
                t._env.open_read(_os.path.join(t.root, f.path))).metadata
        except Exception:
            return None
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for c in st.schema.columns:
            if c.name not in names:
                return None
            ci = names[c.name]
            rec = out[c.name]
            for rg in range(md.num_row_groups):
                stat = md.row_group(rg).column(ci).statistics
                if stat is None or stat.null_count is None:
                    return None
                rec[2] += stat.null_count
                if stat.null_count == md.row_group(rg).num_rows:
                    continue  # all-null group carries no min/max
                if not stat.has_min_max:
                    return None
                mn, mx = _stat_bounds(stat, c.type)
                if mn is None and mx is None:
                    return None
                if rec[0] is None or mn < rec[0]:
                    rec[0] = mn
                if rec[1] is None or mx > rec[1]:
                    rec[1] = mx
    return out


def run_show(engine: "Engine", sql: str):
    from kudu_spark.sql_dml import strip_comments

    text = strip_comments(sql).strip().rstrip(";").strip()
    spark = engine.spark

    if re.match(r"SHOW\s+TABLES$", text, re.IGNORECASE):
        return spark.createDataFrame(
            [(n,) for n in engine.list_tables()], "name string")

    m = re.match(r"SHOW\s+CREATE\s+TABLE\s+([A-Za-z_]\w*)$", text, re.IGNORECASE)
    if m:
        return spark.createDataFrame(
            [(show_create_table(engine, m.group(1)),)], "result string")

    m = re.match(r"SHOW\s+RANGE\s+PARTITIONS\s+([A-Za-z_]\w*)$", text, re.IGNORECASE)
    if m:
        rs = engine.table(m.group(1)).state().partition_spec.range_spec
        if not rs.enabled:
            raise KuduSparkError(f"table {m.group(1)} is not range-partitioned")
        return spark.createDataFrame(
            [(_fmt_range(lo, hi),) for lo, hi in rs.ranges], "range_partition string")

    m = re.match(r"(?:COMPUTE\s+STATS|SHOW\s+TABLE\s+STATS)\s+([A-Za-z_]\w*)$",
                 text, re.IGNORECASE)
    if m:
        # Impala's COMPUTE STATS / SHOW TABLE STATS on a Kudu table:
        # O(metadata) via KuduTableStatistics (client.h:1568), no scan
        # except dirty partitions (Table.statistics)
        s = engine.table(m.group(1)).statistics()
        # presence-sidecar health rides along so a user can SEE when
        # the O(batch) key probe is disengaged (coverage < 1.0)
        return spark.createDataFrame(
            [(s["live_row_count"], s["on_disk_size"], s["num_files"],
              s["version"], s.get("presence_sidecars"),
              s.get("presence_bytes"), s.get("presence_coverage"),
              s.get("owner"))],
            "num_rows bigint, on_disk_size bigint, num_files bigint, "
            "version bigint, presence_sidecars bigint, "
            "presence_bytes bigint, presence_coverage double, owner string")

    m = re.match(r"SHOW\s+COLUMN\s+STATS\s+([A-Za-z_]\w*)$", text, re.IGNORECASE)
    if m:
        # min/max/null-count come from the parquet FOOTERS when the
        # table is clean — O(files) metadata reads, zero data-file
        # scans (the manifest discipline of KuduTableStatistics,
        # client.h:1568). Only ndv genuinely needs a scan (Impala
        # scans for ndv too), and that scan is column-pruned. Dirty
        # tables (pending deltas would pollute footer aggregates)
        # fall back to one full aggregate scan.
        t = engine.table(m.group(1))
        st = t.state()
        footer = _column_stats_from_footers(t, st)
        df = t.scan()
        aggs = [F.approx_count_distinct(c.name).alias(f"__ndv_{c.name}")
                for c in st.schema.columns]
        if footer is None:
            for c in st.schema.columns:
                aggs += [
                    F.min(c.name).cast("string").alias(f"__min_{c.name}"),
                    F.max(c.name).cast("string").alias(f"__max_{c.name}"),
                    F.sum(F.when(F.col(c.name).isNull(), 1).otherwise(0))
                     .alias(f"__nulls_{c.name}"),
                ]
        row = df.agg(*aggs).collect()[0]
        fmt = _format_stats_via_spark(spark, st, footer) if footer else None
        out = []
        for c in st.schema.columns:
            if footer is None:
                mn, mx, nulls = (row[f"__min_{c.name}"], row[f"__max_{c.name}"],
                                 int(row[f"__nulls_{c.name}"] or 0))
            else:
                mn, mx, nulls = footer[c.name]
                if fmt is not None:
                    mn, mx = fmt[c.name]
                else:
                    mn, mx = _stat_str(mn), _stat_str(mx)
            out.append((c.name, c.type, mn, mx, nulls, int(row[f"__ndv_{c.name}"])))
        return spark.createDataFrame(
            out, "column string, type string, min string, max string, "
                 "nulls bigint, ndv bigint")

    m = re.match(r"DESCRIBE\s+(?:FORMATTED\s+|EXTENDED\s+)?([A-Za-z_]\w*)$",
                 text, re.IGNORECASE)
    if m:
        st = engine.table(m.group(1)).state()
        rows = []
        for c in st.schema.columns:
            rows.append((
                c.name, c.type, c.comment or "",
                c.name in st.schema.pk, c.nullable,
                None if c.default is None else str(c.default),
                c.encoding or "AUTO_ENCODING",
                c.compression or "DEFAULT_COMPRESSION",
                c.block_size or 0,
            ))
        return spark.createDataFrame(
            rows,
            "name string, type string, comment string, primary_key boolean, "
            "nullable boolean, default_value string, encoding string, "
            "compression string, block_size bigint")

    raise KuduSparkError(f"cannot parse statement: {text[:60]!r}")


def _quote(s) -> str:
    """Render a string literal with embedded single quotes doubled —
    the inverse of ``_parse_literal``'s unescaping, so the statement
    round-trips through ``run_ddl`` even when a default/comment/
    property value contains a quote."""
    return "'" + str(s).replace("'", "''") + "'"


def show_create_table(engine: "Engine", name: str) -> str:
    """Regenerate a CREATE TABLE statement that round-trips through
    ``run_ddl`` to an equivalent table (Impala SHOW CREATE TABLE)."""
    from kudu_spark.table import AUTO_INC_COL

    st = engine.table(name).state()
    lines = []
    for c in st.schema.columns:
        if c.name == AUTO_INC_COL:
            continue
        parts = [c.name, c.type.upper()]
        if not c.nullable:
            parts.append("NOT NULL")
        if c.default is not None:
            d = c.default
            parts.append("DEFAULT " + (_quote(d) if isinstance(d, str) else
                                       str(d).upper() if isinstance(d, bool) else str(d)))
        if c.encoding:
            parts.append(f"ENCODING {c.encoding}")
        if c.compression:
            parts.append(f"COMPRESSION {c.compression}")
        if c.block_size:
            parts.append(f"BLOCK_SIZE {c.block_size}")
        if c.comment:
            parts.append(f"COMMENT {_quote(c.comment)}")
        lines.append("  " + " ".join(parts))
    pk_cols = [c for c in st.schema.pk if c != AUTO_INC_COL]
    lines.append(f"  PRIMARY KEY ({', '.join(pk_cols)})")
    out = f"CREATE TABLE {name} (\n" + ",\n".join(lines) + "\n)"
    parts = []
    for h in st.partition_spec.hash_dims:
        parts.append(f"HASH ({', '.join(h.columns)}) PARTITIONS {h.buckets}")
    rs = st.partition_spec.range_spec
    if rs.enabled:
        items = ",\n    ".join(f"PARTITION {_fmt_range(lo, hi)}" for lo, hi in rs.ranges)
        parts.append(f"RANGE ({', '.join(rs.cols)}) (\n    {items}\n  )")
    if parts:
        out += "\nPARTITION BY " + ", ".join(parts)
    if st.props.get("comment"):
        out += f"\nCOMMENT {_quote(st.props['comment'])}"
    out += "\nSTORED AS KUDU"
    props = {k: v for k, v in st.props.items()
             if not k.startswith("_") and k != "comment"}
    if props:
        kv = ", ".join(f"{_quote(k)} = {_quote(v)}" for k, v in sorted(props.items()))
        out += f"\nTBLPROPERTIES ({kv})"
    return out

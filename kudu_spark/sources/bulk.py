"""Bulk import/export and table copy.

- ``import_csv``: the TPC-H ``.tbl``-style pipe-separated loader
  (≈ src/kudu/benchmarks/tpch/line_item_tsv_importer.h) generalized to
  any delimiter, expressed as one distributed ``spark.read.csv`` →
  ``table.insert`` pipeline (no driver-side row handling).
- ``export_csv`` / ``export_parquet``: ``kudu table scan`` CSV output
  mode (src/kudu/tools/table_scanner.cc) with the same JSON predicate
  grammar, and full-fidelity parquet export.
- ``copy_table``: ``kudu table copy`` (tools/table_scanner.cc copy
  mode): scan source → create matching dest (schema, PK, partition
  spec) → bulk write. With ``predicates`` it copies a slice.
- ``avro_schema``: ``PopulateAvroSchema`` (tools/tool_action_table.cc:662)
  — export the table schema as an Avro record schema dict.

Scale: all paths are single DataFrame pipelines — reads parallelize by
input splits, writes repartition by the destination's partition
function inside the mutation path, nothing collects to the driver.
"""

from __future__ import annotations

import json

from kudu_spark import vector
from kudu_spark.plans.predicates import parse_predicates


def import_csv(
    table,
    path: str,
    sep: str = "|",
    header: bool = False,
    mode: str = "insert",
) -> int:
    """Load a delimited file/directory into an engine table. Columns
    are taken positionally from the table schema when ``header`` is
    false (the ``.tbl`` convention); the mutation path casts to the
    declared types and enforces PK semantics."""
    spark = table.spark
    names = table.schema.names
    reader = spark.read.option("sep", sep).option("header", str(header).lower())
    if header:
        df = reader.csv(path)
        df = df.select(*[c for c in names if c in df.columns])
    else:
        df = reader.csv(path)
        # .tbl files carry a trailing delimiter → one extra empty column
        cols = df.columns[: len(names)]
        df = df.select(*[df[c].alias(n) for c, n in zip(cols, names)])
    return getattr(table, mode)(df)


def export_csv(table, out_path: str, predicates=None, columns=None) -> None:
    """``kudu table scan``/export with JSON predicate grammar."""
    filters = parse_predicates(predicates) if predicates else None
    df = table.scan(columns=columns, filters=filters)
    df.write.option("header", "true").mode("overwrite").csv(out_path)


def export_parquet(table, out_path: str, predicates=None, columns=None) -> None:
    filters = parse_predicates(predicates) if predicates else None
    df = table.scan(columns=columns, filters=filters)
    df.write.mode("overwrite").parquet(out_path)


def copy_table(engine, src_name: str, dst_name: str, dst_engine=None,
               predicates=None, write_op: str = "insert") -> "object":
    """``kudu table copy``: create ``dst_name`` with the source's
    schema/PK/partitioning and bulk-load the (optionally predicated)
    scan. ``dst_engine`` targets another warehouse (cluster copy)."""
    src = engine.table(src_name)
    dst_engine = dst_engine or engine
    st = src.state()
    sch = st.schema
    from kudu_spark.table import AUTO_INC_COL

    pk = [c for c in sch.pk if c != AUTO_INC_COL]
    fields = [
        (c.name, c.type, c.nullable)
        for c in sch.columns
        if c.name != AUTO_INC_COL
    ]
    ps = st.partition_spec
    hash_partitions = [
        {"columns": d.columns, "buckets": d.buckets, "seed": d.seed}
        for d in ps.hash_dims
    ] or None
    range_partition = None
    if ps.range_spec.enabled:
        range_partition = {
            "ranges": [list(r) for r in ps.range_spec.ranges],
        }
        if ps.range_spec.columns:
            range_partition["columns"] = list(ps.range_spec.columns)
        else:
            range_partition["column"] = ps.range_spec.column
    dst = dst_engine.create_table(
        dst_name,
        fields,
        pk=pk,
        hash_partitions=hash_partitions,
        range_partition=range_partition,
        immutable_cols=[c.name for c in sch.columns if c.immutable] or None,
        non_unique_pk=AUTO_INC_COL in sch.pk,
    )
    # table options and frozen model artifacts ride along BEFORE the
    # bulk load (mirrors restore(): without them the copy silently
    # loses its presence-probe config, compaction policy, and the
    # vector-cell centroid model its writes should derive from)
    props = {k: str(v) for k, v in (st.props or {}).items()
             if k != "auto_inc_next"}
    if props:
        alt = dst_engine.alter_table(dst_name)
        for k, v in props.items():
            alt = alt.set_property(k, v)
        alt.apply()
        dst = dst_engine.table(dst_name)
    vector.publish_artifacts(dst, vector.artifacts(src, st))
    filters = parse_predicates(predicates) if predicates else None
    df = src.scan(filters=filters)
    if AUTO_INC_COL in sch.pk:
        df = df.drop(AUTO_INC_COL)
    getattr(dst, write_op)(df)
    return dst


_AVRO_TYPES = {
    "boolean": "boolean",
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
    "date": {"type": "int", "logicalType": "date"},
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
}


def avro_schema(table) -> dict:
    """Schema as an Avro record (≈ PopulateAvroSchema,
    tools/tool_action_table.cc:662)."""
    fields = []
    for c in table.schema.columns:
        t = c.type.lower()
        if t.startswith("decimal"):
            p, s = t[t.index("(") + 1 : -1].split(",")
            at: object = {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": int(p),
                "scale": int(s),
            }
        elif t.startswith("varchar"):
            at = "string"
        elif t.startswith("array<"):
            at = {"type": "array", "items": _AVRO_TYPES.get(t[6:-1], "string")}
        else:
            at = _AVRO_TYPES.get(t, "string")
        fields.append(
            {"name": c.name, "type": at if not c.nullable else ["null", at]}
        )
    return {"type": "record", "name": table.name, "fields": fields}


def export_avro_schema(table, out_path: str) -> None:
    # through the Env: an out_path under a URI-rooted warehouse lands
    # on THAT filesystem, not silently on the driver's local disk
    from kudu_spark.fs import env_for_root

    env_for_root(out_path).write_bytes(
        out_path, json.dumps(avro_schema(table), indent=2).encode()
    )

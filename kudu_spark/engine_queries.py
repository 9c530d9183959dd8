"""Engine-table queries: Kudu's mutation surface exercised through the
correctness gate. Each query creates a fresh engine table in a temp
warehouse, applies mutations derived deterministically from the input
tables, and returns a scan; the oracle emulates the same end state in
plain SQL over the original parquet. This proves INSERT/UPSERT/DELETE,
merge-on-read, time travel, diff scans and partition pruning produce
exactly the state SQL algebra predicts.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from kudu_spark.queries import load, query

CUSTOMER_SCHEMA = [
    ("c_custkey", "bigint", False),
    ("c_name", "string", True),
    ("c_nationkey", "int", True),
    ("c_acctbal", "double", True),
    ("c_mktsegment", "string", True),
]
CUSTOMER_COLS = [c for c, _, _ in CUSTOMER_SCHEMA]


def _engine(spark):
    from kudu_spark.engine import Engine

    return Engine(spark, tempfile.mkdtemp(prefix="pyskudu-q-"))


def _customer_table(spark, sf_dir, name="cust", **create_kw):
    eng = _engine(spark)
    t = eng.create_table(name, CUSTOMER_SCHEMA, pk=["c_custkey"], **create_kw)
    t.insert(load(spark, sf_dir, "customer").select(*CUSTOMER_COLS))
    return t


@query(
    "engine_upsert_scan",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_custkey % 10 = 0 THEN 'UPSERTED' ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    UNION ALL
    SELECT 9000001 + r AS c_custkey, 'synthetic' AS c_name, CAST(r AS INT) AS c_nationkey,
           0.0 AS c_acctbal, 'NEW' AS c_mktsegment
    FROM (SELECT unnest(range(5)) AS r)
    """,
)
def engine_upsert_scan(spark, sf_dir):
    """UPSERT round-trip: replace existing rows + insert new ones in one
    batch, then merge-on-read scan (row_operations.proto:39)."""
    t = _customer_table(spark, sf_dir)
    c = load(spark, sf_dir, "customer")
    changed = c.where(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
        F.lit("UPSERTED").alias("c_mktsegment"),
    )
    fresh = spark.range(5).select(
        (F.lit(9000001) + F.col("id")).alias("c_custkey"),
        F.lit("synthetic").alias("c_name"),
        F.col("id").cast("int").alias("c_nationkey"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    t.upsert(changed.unionByName(fresh))
    return t.scan()


@query(
    "engine_delete_scan",
    oracle="SELECT * FROM customer WHERE NOT (c_custkey % 7 = 0)",
)
def engine_delete_scan(spark, sf_dir):
    """DELETE by PK, then scan (tombstones win in merge-on-read)."""
    t = _customer_table(spark, sf_dir)
    keys = load(spark, sf_dir, "customer").where(F.col("c_custkey") % 7 == 0).select("c_custkey")
    t.delete(keys)
    return t.scan()


@query(
    "engine_timetravel_scan",
    oracle="SELECT * FROM customer WHERE c_custkey % 2 = 0",
)
def engine_timetravel_scan(spark, sf_dir):
    """READ_AT_SNAPSHOT: scan an older version after later inserts and
    updates (common.proto:268)."""
    eng = _engine(spark)
    t = eng.create_table("tt", CUSTOMER_SCHEMA, pk=["c_custkey"])
    c = load(spark, sf_dir, "customer")
    v_even = t.insert(c.where(F.col("c_custkey") % 2 == 0).select(*CUSTOMER_COLS))
    t.insert(c.where(F.col("c_custkey") % 2 == 1).select(*CUSTOMER_COLS))
    t.update(
        c.where(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", (F.col("c_acctbal") * 0).alias("c_acctbal"))
    )
    return t.scan(version=v_even)


@query(
    "engine_diff_scan",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal,
           'UPSERTED' AS c_mktsegment, FALSE AS _is_deleted
    FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 7 != 0
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, TRUE AS _is_deleted
    FROM customer WHERE c_custkey % 7 = 0
    """,
)
def engine_diff_scan(spark, sf_dir):
    """Diff scan (change feed) between versions: upserts show new
    values, deletes show the pre-image with _is_deleted=true, rows
    upserted-then-deleted collapse to a delete (ghost dedup,
    generic_iterators.h:42-51)."""
    t = _customer_table(spark, sf_dir)
    v0 = t.version
    c = load(spark, sf_dir, "customer")
    t.upsert(
        c.where(F.col("c_custkey") % 10 == 0).select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
            F.lit("UPSERTED").alias("c_mktsegment"),
        )
    )
    t.delete(c.where(F.col("c_custkey") % 7 == 0).select("c_custkey"))
    return t.diff_scan(v0)


@query(
    "engine_changelog_scan",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           CAST(2 AS BIGINT) AS _change_version, FALSE AS _is_deleted
    FROM customer
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0, 'UPSERTED',
           CAST(3 AS BIGINT), FALSE
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, NULL, NULL, NULL, NULL, CAST(4 AS BIGINT), TRUE
    FROM customer WHERE c_custkey % 7 = 0
    """,
)
def engine_changelog_scan(spark, sf_dir):
    """Full row-level changelog via the kudu_cdc Python Data Source
    (batch mode): every mutation commit's rows tagged with
    _change_version/_is_deleted — the streaming-source read path
    (≈ incremental backup KuduBackupRDD.scala:74-78 + replication
    feed), exercised through the correctness gate."""
    from kudu_spark.streaming import read_changes

    t = _customer_table(spark, sf_dir)  # create=v1, insert=v2
    c = load(spark, sf_dir, "customer")
    t.upsert(  # v3
        c.where(F.col("c_custkey") % 10 == 0).select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
            F.lit("UPSERTED").alias("c_mktsegment"),
        )
    )
    t.delete(c.where(F.col("c_custkey") % 7 == 0).select("c_custkey"))  # v4
    return read_changes(spark, t.root)


@query(
    "engine_partitioned_scan",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_custkey >= 100 AND c_custkey < 600 AND c_mktsegment = 'BUILDING'
    """,
)
def engine_partitioned_scan(spark, sf_dir):
    """Projected/predicated scan on a hash+range partitioned engine
    table: the planner prunes buckets+ranges+file stats, Catalyst
    pushes the residual predicates into parquet."""
    t = _customer_table(
        spark,
        sf_dir,
        name="part",
        hash_partitions=[{"columns": ["c_custkey"], "buckets": 4}],
        range_partition={"column": "c_custkey", "splits": [400, 800, 1200]},
    )
    return t.scan(
        columns=["c_custkey", "c_acctbal"],
        filters=[
            ("c_custkey", ">=", 100),
            ("c_custkey", "<", 600),
            ("c_mktsegment", "=", "BUILDING"),
        ],
    )


@query(
    "engine_txn_scan",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer WHERE NOT c_custkey % 5 = 0
    UNION ALL
    SELECT 9100000 + r AS c_custkey, 'TXN' AS c_mktsegment
    FROM (SELECT unnest(range(3)) AS r)
    """,
    # gated since r5 (rotated in for scan_limit_topk): the commit
    # protocol's visible result is driver-verified, not only pytest
)
def engine_txn_scan(spark, sf_dir):
    """Cross-table transaction (client.h:445-545): ONE
    EngineTransaction deletes from the customer copy and inserts into
    a second table, coordinated through the durable marker protocol;
    the result is the union of both tables' post-commit scans."""
    eng = _engine(spark)
    t = eng.create_table("cust", CUSTOMER_SCHEMA, pk=["c_custkey"])
    c = load(spark, sf_dir, "customer")
    t.insert(c.select(*CUSTOMER_COLS))
    aux = eng.create_table(
        "aux", [("c_custkey", "bigint", False), ("c_mktsegment", "string", True)],
        pk=["c_custkey"],
    )
    txn = eng.transaction()
    txn.delete("cust", c.where(F.col("c_custkey") % 5 == 0).select("c_custkey"))
    txn.insert("aux", spark.range(3).select(
        (F.lit(9100000) + F.col("id")).alias("c_custkey"),
        F.lit("TXN").alias("c_mktsegment"),
    ))
    txn.commit()
    return t.scan(columns=["c_custkey", "c_mktsegment"]).unionByName(aux.scan())


@query(
    "engine_autocompact_scan",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 3 = 0 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal
    FROM customer WHERE NOT c_custkey % 11 = 0
    """,
    gated=True,  # r13 rotation IN: write-triggered compaction (§4's
    # inline knapsack fold) was never driver-verified
)
def engine_autocompact_scan(spark, sf_dir):
    """Write-triggered maintenance (compaction_policy.h knapsack run
    inline at commit): with the delta floor lowered the upsert and
    delete fold their deltas into fresh base files at write time, and
    the scan — now over pure base — must equal the merge-on-read
    answer exactly."""
    eng = _engine(spark)
    t = eng.create_table("ac", CUSTOMER_SCHEMA, pk=["c_custkey"])
    eng.alter_table("ac").set_property("auto_compact_min_delta_bytes", "0").apply()
    c = load(spark, sf_dir, "customer")
    t.insert(c.select(*CUSTOMER_COLS))
    t.upsert(c.where(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_name", "c_nationkey",
        (F.col("c_acctbal") * 2).alias("c_acctbal"), "c_mktsegment",
    ))
    t.delete(c.where(F.col("c_custkey") % 11 == 0).select("c_custkey"))
    assert all(f.kind == "base" for f in t.state().files), "maintenance did not fold deltas"
    return t.scan(columns=["c_custkey", "c_name", "c_acctbal"])


@query(
    "engine_decimal_pk_scan",
    oracle="""
    SELECT CAST(CAST(c_custkey AS DECIMAL(12,2)) AS DOUBLE) AS k, c_acctbal
    FROM customer WHERE c_custkey >= 100 AND c_custkey <= 300
    """,
    # gated since r5 (rotated in for agg_revenue_filter): decimal
    # footer-stat pruning is driver-verified, not only pytest
)
def engine_decimal_pk_scan(spark, sf_dir):
    """DECIMAL primary key end-to-end: footer bounds decode from the
    raw scaled-int parquet stats and prune NUMERICALLY (bounds like
    [20, 300] must not lexicographically exclude key 100), with the
    range filter pushed through the merge path.

    The scan and all pruning run on the DECIMAL(12,2) key; only the
    OUTPUT casts to DOUBLE on both sides, because the driver's
    value-hash compares representations (Spark returns Decimal
    objects, DuckDB's pandas bridge float64 — numerically equal,
    representationally different; r5 gate red for exactly this)."""
    from decimal import Decimal

    eng = _engine(spark)
    t = eng.create_table(
        "decpk", [("k", "decimal(12,2)", False), ("c_acctbal", "double", True)],
        pk=["k"], hash_partitions=[{"columns": ["k"], "buckets": 4}],
    )
    c = load(spark, sf_dir, "customer")
    t.insert(c.select(
        F.col("c_custkey").cast("decimal(12,2)").alias("k"), "c_acctbal"
    ))
    return t.scan(
        filters=[("k", ">=", Decimal("100")), ("k", "<=", Decimal("300"))]
    ).select(F.col("k").cast("double").alias("k"), "c_acctbal")


@query(
    "engine_clustered_scan",
    gated=True,  # r12 rotation: strongest not-yet-driver-verified layout entry
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM customer WHERE c_nationkey = 7
    """,
)
def engine_clustered_scan(spark, sf_dir):
    """`cluster_by` layout end-to-end: files sorted by the analytic
    column (c_nationkey) instead of the PK, fine row groups, selective
    scan on the cluster column plus an upsert proving PK probes stay
    exact on the re-sorted layout."""
    eng = _engine(spark)
    t = eng.create_table(
        "clus", CUSTOMER_SCHEMA, pk=["c_custkey"],
        hash_partitions=[{"columns": ["c_custkey"], "buckets": 4}],
    )
    eng.alter_table("clus").set_property("cluster_by", "c_nationkey") \
        .set_property("parquet_block_bytes", str(256 << 10)).apply()
    t = eng.table("clus")
    t.insert(load(spark, sf_dir, "customer").select(*CUSTOMER_COLS))
    # PK probe on the clustered layout: duplicate insert must still trip
    from kudu_spark.errors import DuplicateKeyError

    try:
        t.insert(load(spark, sf_dir, "customer").limit(1).select(*CUSTOMER_COLS))
        raise AssertionError("duplicate PK not detected on clustered layout")
    except DuplicateKeyError:
        pass
    return t.scan(
        columns=["c_custkey", "c_nationkey", "c_acctbal"],
        filters=[("c_nationkey", "=", 7)],
    )


@query(
    "engine_sql_dml_scan",
    # gated since r6 (rotated in for text_fingerprint): the SQL DML
    # surface is new this round and deserves driver verification
    oracle="""
    WITH after_upd AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_custkey % 7 = 0 THEN 'SQLUPD' ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    ), after_del AS (
      SELECT * FROM after_upd WHERE c_custkey % 11 <> 0
    ), with_new AS (
      SELECT * FROM after_del
      UNION ALL SELECT 9100001, 'sql-row', 1, 10.5, 'SQLNEW'
      UNION ALL SELECT 9100002, 'sql-row2', 2, 20.5, 'SQLNEW'
    )
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 13 = 0 THEN 0.0 ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_custkey % 13 = 0 THEN 'ZERO' ELSE c_mktsegment END AS c_mktsegment
    FROM with_new
    """,
)
def engine_sql_dml_scan(spark, sf_dir):
    """The Impala-on-Kudu SQL write surface end-to-end
    (docs/kudu_impala_integration.adoc:665-731): UPDATE ... WHERE,
    DELETE ... WHERE, INSERT VALUES, and UPSERT with a SELECT source
    reading the table's own merged state — all through ``Engine.sql``
    strings, then one merge-on-read scan compared against the SQL
    algebra of the same statements."""
    import os

    from kudu_spark.engine import Engine

    t = _customer_table(spark, sf_dir, name="sqldml")
    eng = Engine(spark, os.path.dirname(t.root))
    eng.sql("UPDATE sqldml SET c_acctbal = c_acctbal + 100.0, "
            "c_mktsegment = 'SQLUPD' WHERE c_custkey % 7 = 0")
    eng.sql("DELETE FROM sqldml WHERE c_custkey % 11 = 0")
    eng.sql("INSERT INTO sqldml VALUES "
            "(9100001, 'sql-row', 1, 10.5, 'SQLNEW'), "
            "(9100002, 'sql-row2', 2, 20.5, 'SQLNEW')")
    eng.sql("UPSERT INTO sqldml SELECT c_custkey, c_name, c_nationkey, 0.0, 'ZERO' "
            "FROM sqldml WHERE c_custkey % 13 = 0")
    return eng.table("sqldml").scan()


@query(
    "engine_merge_scan",
    # gated since r8 (rotated in for scan_null_predicates): MERGE's
    # atomic multi-clause path gets driver verification (VERDICT r7
    # task #4)
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 50.0 ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_custkey % 5 = 0 THEN 'MERGED' ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    WHERE NOT (c_custkey % 5 = 0 AND c_acctbal < 0)
    UNION ALL
    SELECT 9200001, 'mrg', 0, 77.0, 'NEWM'
    """,
)
def engine_merge_scan(spark, sf_dir):
    """MERGE INTO end-to-end (the Impala-4.x-on-Kudu statement /
    standard lakehouse upsert): one statement deleting matched
    negative-balance rows, updating the rest of the matched set from
    OLD source values, and inserting the conditioned not-matched rows
    — committed as ONE atomic transaction, then scanned and compared
    against the SQL algebra of the same clauses."""
    import os

    from kudu_spark.engine import Engine

    t = _customer_table(spark, sf_dir, name="mrgtgt")
    eng = Engine(spark, os.path.dirname(t.root))
    eng.sql("""
        MERGE INTO mrgtgt USING (
          SELECT c_custkey AS k, c_acctbal AS b FROM mrgtgt WHERE c_custkey % 5 = 0
          UNION ALL SELECT 9200001, 77.0
          UNION ALL SELECT 9200002, -5.0
        ) m ON mrgtgt.c_custkey = m.k
        WHEN MATCHED AND m.b < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET c_acctbal = m.b + 50.0, c_mktsegment = 'MERGED'
        WHEN NOT MATCHED AND m.b > 0 THEN INSERT (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
          VALUES (m.k, 'mrg', 0, m.b, 'NEWM')
    """)
    return eng.table("mrgtgt").scan()


@query(
    "engine_sql_txn_scan",
    # gated since r8 (rotated in for scan_like_prefix): the SQL
    # BEGIN/COMMIT block path gets driver verification (VERDICT r7
    # task #4)
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 6 = 0 THEN 0.0 ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_custkey % 6 = 0 THEN 'TXNZERO' ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    WHERE c_custkey % 17 <> 0
    UNION ALL
    SELECT 9300001, 'txn-row', 7, 42.0, 'TXNNEW'
    """,
)
def engine_sql_txn_scan(spark, sf_dir):
    """SQL BEGIN/COMMIT block end-to-end: an UPDATE, a DELETE and an
    INSERT staged in one statement script publish as ONE atomic
    commit (version advances exactly once), then the merge-on-read
    scan is compared against the SQL algebra of the block."""
    import os

    from kudu_spark.engine import Engine

    t = _customer_table(spark, sf_dir, name="sqltxn")
    eng = Engine(spark, os.path.dirname(t.root))
    v0 = eng.table("sqltxn").version
    eng.sql_script("""
        BEGIN;
        UPDATE sqltxn SET c_acctbal = 0.0, c_mktsegment = 'TXNZERO'
          WHERE c_custkey % 6 = 0;
        DELETE FROM sqltxn WHERE c_custkey % 17 = 0;
        INSERT INTO sqltxn VALUES (9300001, 'txn-row', 7, 42.0, 'TXNNEW');
        COMMIT
    """)
    assert eng.table("sqltxn").version == v0 + 1, "txn must be ONE commit"
    return eng.table("sqltxn").scan()


@query(
    "engine_quantized_scan",
    oracle="""
    WITH scaled AS (
      SELECT vec_id,
             CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS sc, embedding
      FROM (
        SELECT vec_id, embedding,
               list_aggregate(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
        FROM embeddings
      )
    ), q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(greatest(-127.0, least(127.0,
                 floor(CAST(x AS DOUBLE) * sc + 0.5))) AS TINYINT)) AS q8,
             CAST(sc AS FLOAT) AS q8_scale
      FROM scaled
    )
    SELECT vec_id,
           CAST(UNNEST(range(len(q8))) AS INT) AS pos,
           UNNEST(q8) AS q8_val,
           q8_scale
    FROM q
    """,
    gated=True,  # r12 rotation: stored-q8 engine columns get driver verification
)
def engine_quantized_scan(spark, sf_dir):
    """Stored int8 vector columns on an ENGINE table
    (vector_quantize_cols): every write derives __q8_<col> +
    __q8s_<col> into the data files, and scan_quantized reads ONLY
    (pk, q8, scale) — the full-precision embedding column never leaves
    parquet. The oracle recomputes the quantization from the raw
    embeddings, so a stale or wrong stored pair hash-mismatches.

    The GATED projection posexplodes the q8 array to scalar
    (vec_id, pos, q8_val, q8_scale) rows: the driver's canonicalizer
    pandas-sorts raw output columns and cannot hash array cells
    (CORRECTNESS_r12's one red row) — the DuckDB side zips
    UNNEST(range(len)) with UNNEST(q8), DuckDB's equivalent of
    WITH ORDINALITY. scan_quantized itself is unchanged and stays
    array-valued for programmatic callers."""
    eng = _engine(spark)
    t = eng.create_table(
        "emq", [("vec_id", "bigint", False), ("embedding", "array<float>", True),
                ("label", "int", True)], pk=["vec_id"])
    eng.alter_table("emq").set_property(
        "vector_quantize_cols", "embedding").apply()
    t = eng.table("emq")
    t.insert(load(spark, sf_dir, "embeddings"))
    q = t.scan_quantized("embedding")
    return q.select(
        "vec_id",
        F.posexplode("__q8_embedding").alias("pos", "q8_val"),
        F.col("__q8s_embedding").alias("q8_scale"),
    )


def _kmeans_oracle():
    from kudu_spark.operators.similarity import kmeans_oracle_sql

    return kmeans_oracle_sql([10, 20, 30, 40, 50], k=5, n_centroids=8,
                             n_iters=3, n_probes=2)


@query(
    "engine_ann_cells_topk",
    oracle=_kmeans_oracle(),
    gated=True,  # r13 rotation IN: strongest not-yet-driver-verified
    # entry (new r12; pytest-oracled + freshness/retrain-tested)
)
def engine_ann_cells_topk(spark, sf_dir):
    """ANN THROUGH the engine table's stored IVF cells
    (train_vector_cells / __ivfc_<col> / ann_topk): k-means trains
    once into a frozen centroid artifact, every later write derives
    the cell assignment as a stored column, files lay out by cell
    (cluster_by = __ivfc_embedding) so scan_cells prunes row groups,
    and serving rides the ordinary merge-on-read snapshot — an
    upserted vector is scored at its NEW value and a deleted one
    never returns, for free. Row-identical to the operator family's
    ivf_kmeans_topk on identical data, so it shares the unrolled-CTE
    oracle; mutation freshness is pinned in tests/test_similarity.py."""
    eng = _engine(spark)
    t = eng.create_table(
        "emcells", [("vec_id", "bigint", False),
                    ("embedding", "array<float>", True),
                    ("label", "int", True)], pk=["vec_id"])
    t.insert(load(spark, sf_dir, "embeddings"))
    t = eng.table("emcells")
    t.train_vector_cells("embedding", n_cells=8, n_iters=3)
    eng.alter_table("emcells").set_property(
        "cluster_by", "__ivfc_embedding").apply()
    # compaction rewrites pre-training files with the stored cell
    # column in the clustered layout — the convergence step
    t = eng.table("emcells")
    t.compact(full=True)
    return t.ann_topk("embedding", [10, 20, 30, 40, 50], k=5, n_probes=2)


@query(
    "engine_ann_q8_topk",
    oracle=_kmeans_oracle(),
    gated=True,  # rotated INTO the r14 gate (VERDICT r13 #2): the int8
    # serve is the r13 flagship and deserves driver verification. With
    # refine covering the probed cells the exact re-rank provably
    # reproduces ivf_kmeans_topk, so the shared oracle verifies the
    # whole int8 candidate path (stored __q8 scan, approx scoring,
    # shortlist, exact re-rank); the recall/byte claims live in
    # tests/test_similarity.py::test_ann_topk_quantized_refine
)
def engine_ann_q8_topk(spark, sf_dir):
    """IVF + int8-refine ANN THROUGH the engine table's TWO stored
    vector sidecolumns (ann_topk(quantized=True)): candidates are read
    as (pk, __ivfc, __q8) — the fp column never leaves parquet —
    scored approximately from the int8 codes, and only the bounded
    shortlist is re-ranked against exact vectors fetched by PK. The
    production IVF-PQ-style serve at ~4x fewer candidate bytes on top
    of cell/file pruning."""
    eng = _engine(spark)
    t = eng.create_table(
        "emq8", [("vec_id", "bigint", False),
                 ("embedding", "array<float>", True),
                 ("label", "int", True)], pk=["vec_id"])
    t.insert(load(spark, sf_dir, "embeddings"))
    t = eng.table("emq8")
    t.train_vector_cells("embedding", n_cells=8, n_iters=3)
    eng.alter_table("emq8") \
        .set_property("vector_quantize_cols", "embedding") \
        .set_property("cluster_by", "__ivfc_embedding").apply()
    t = eng.table("emq8")
    t.compact(full=True)
    # refine=1000 is ORACLE COVERAGE ONLY: it makes the shortlist span
    # the whole probed cells so the exact re-rank provably reproduces
    # ivf_kmeans_topk (the shared oracle). Production serving uses
    # single-digit refine (the recall/byte trade measured in
    # tests/test_similarity.py::test_ann_topk_quantized_refine at
    # refine=4) — do not copy this setting into a pipeline.
    return t.ann_topk("embedding", [10, 20, 30, 40, 50], k=5, n_probes=2,
                      quantized=True, refine=1000)


@query(
    "engine_timeseries_scan",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS day, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08' AND value IS NOT NULL
    GROUP BY 1, 2
    """,
    gated=True,
)
def engine_timeseries_scan(spark, sf_dir):
    """Kudu's flagship time-series layout (kudu.tex's metrics use
    case): hash(series) x range(time) partitioning, with retention
    enforced by DROPPING the oldest time range — the O(metadata)
    age-out idiom Kudu documents for time-series tables (ALTER TABLE
    DROP RANGE PARTITION; rows vanish with the partition, no
    tombstones, no compaction debt). Scan side: the dropped week never
    appears, remaining predicates and the daily rollup push into the
    surviving ranges' files."""
    def d(day):
        # ISO strings: JSON-safe in the manifest, cast to timestamp in
        # the bound expressions; fixed format keeps lexicographic ==
        # chronological for overlap validation
        return f"2024-01-{day:02d} 00:00:00"

    eng = _engine(spark)
    t = eng.create_table(
        "events_ts",
        [
            ("user_id", "bigint", False),
            ("ts", "timestamp", False),
            ("event_id", "bigint", False),
            ("event_type", "string", True),
            ("value", "double", True),
        ],
        pk=["user_id", "ts", "event_id"],
        hash_partitions=[{"columns": ["user_id"], "buckets": 4}],
        range_partition={
            "column": "ts",
            "ranges": [
                [d(1), d(8)], [d(8), d(15)], [d(15), d(22)],
                [d(22), "2024-02-01 00:00:00"],
            ],
        },
    )
    t.insert(
        load(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type", "value"
        )
    )
    # retention age-out: drop the oldest week (metadata-only delete)
    eng.alter_table("events_ts").drop_range_partition(d(1), d(8)).apply()
    t = eng.table("events_ts")
    e = t.scan(filters=[("value", "not_null", None)])
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("day"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )

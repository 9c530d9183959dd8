"""Quick check: deleted lifecycle state keeps predicate pushdown.

Reproduces bench.py's mutate-then-delete shape at sf0.01 and asserts
the snapshot plan over a (live-delta + pure-delete-delta) table has no
global row_number window, then times q6 in both states.
"""
import os
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from kudu_spark.engine import Engine  # noqa: E402
from kudu_spark.queries import load  # noqa: E402

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

wh = tempfile.mkdtemp(prefix="delplan-")
eng = Engine(spark, wh)
li = load(spark, sf_dir, "lineitem")
cols = [(f.name, f.dataType.simpleString(), True) for f in li.schema.fields]
schema = [("l_rowid", "bigint", False)] + cols
t = eng.create_table(
    "lineitem", schema, pk=["l_rowid"],
    hash_partitions=[{"columns": ["l_rowid"], "buckets": 8}],
)
t.insert(li.withColumn("l_rowid", F.monotonically_increasing_id()))
# keep the deltas live: at sf0.01 the write-proportional inline fold
# would otherwise absorb them and the plan checks would be vacuous
eng.alter_table("lineitem").set_property("auto_compact", "false").apply()
t = eng.table("lineitem")
tenth = t.scan().where(F.col("l_rowid") % 10 == 0).withColumn(
    "l_quantity", F.col("l_quantity") + 1)
t.upsert(tenth)
t = eng.table("lineitem")
expected_before = t.scan().count()
ndel = t.scan().where(F.col("l_rowid") % 50 == 3).count()
t.delete(t.scan(columns=["l_rowid"]).where(F.col("l_rowid") % 50 == 3))
t = eng.table("lineitem")


def q6(df):
    return df.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("rev"))


# the FIRST scan of a snapshot streams: the anti-join plan with
# predicates pushed into the parquet scans, which every snapshot past
# the resident budget keeps
stream_plan = q6(t.scan())._jdf.queryExecution().executedPlan().toString()
stream_windows = stream_plan.count("WindowGroupLimit") + stream_plan.count("Window ")
print("windows in deleted-state q6 plan (streaming):", stream_windows)
pushed = "PushedFilters: [IsNotNull(l_shipdate)" in stream_plan
print("pushed filters present (streaming):", pushed)
if "row_number" in stream_plan or not pushed:
    print("!! streaming deleted plan regressed")
    print(stream_plan[:4000])
    sys.exit(1)

# correctness: count and a value spot-check
got = t.scan().count()
assert got == expected_before - ndel, (got, expected_before, ndel)
assert t.scan().where(F.col("l_rowid") % 50 == 3).count() == 0

# repeat scans: the merged dirty state is under the resident budget,
# so the plan serves it from an InMemoryRelation (no window, no
# per-query broadcast stage)
plan = q6(t.scan())._jdf.queryExecution().executedPlan().toString()
n_windows = plan.count("WindowGroupLimit") + plan.count("Window ")
print("windows in deleted-state q6 plan (resident):", n_windows)
print("resident dirty cache in plan:", "InMemoryTableScan" in plan)
if "row_number" in plan:
    print("!! row_number window still present")
    print(plan[:4000])
    sys.exit(1)

# engine q6 value must match a duckdb-free oracle: parquet source with
# the same mutations applied via plain DataFrame ops
li_id = li.withColumn("l_rowid", F.monotonically_increasing_id())
mut = li_id.withColumn(
    "l_quantity",
    F.when(F.col("l_rowid") % 10 == 0, F.col("l_quantity") + 1).otherwise(F.col("l_quantity")),
).where(F.col("l_rowid") % 50 != 3)
exp = q6(mut).collect()[0]["rev"]
val = q6(t.scan()).collect()[0]["rev"]
assert abs(val - exp) < 0.05, (val, exp)
print("q6 value matches oracle:", val)

for name, df in (("parquet", q6(li)), ("engine-deleted", q6(t.scan()))):
    ts = []
    for _ in range(3):
        s = time.time()
        df.collect()
        ts.append(time.time() - s)
    print(f"{name}: {min(ts):.3f}s")
print("OK")

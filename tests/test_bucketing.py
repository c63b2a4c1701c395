"""Bucketed co-located join tests: both sides bucketed on the join key
with equal bucket counts => the RI anti-join runs with ZERO shuffle
Exchange (the recurring-validation layout for 10^12-row tables)."""

import pytest
from pyspark.sql import functions as F

from neontology_spark.bucketing import co_located_unmatched, write_bucketed


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir, tmp_path_factory):
    import shutil

    spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
    # the default catalog is session-scoped but warehouse DIRS persist on
    # disk: clear both so reruns never hit LOCATION_ALREADY_EXISTS
    for t in ("edges_b", "nodes_b"):
        spark.sql(f"DROP TABLE IF EXISTS bktest.{t}")
        shutil.rmtree(f"spark-warehouse/bktest.db/{t}", ignore_errors=True)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # plant unmatched endpoints: shift some customer keys out of range
    edges = orders.select(
        F.when(F.col("o_orderkey") % 101 == 0, F.col("o_custkey") + 10_000_000)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        "o_orderkey",
    )
    write_bucketed(edges, "bktest.edges_b", "o_custkey", n_buckets=8)
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey").select("o_custkey", "c_name"),
        "bktest.nodes_b",
        "o_custkey",
        n_buckets=8,
    )
    return "bktest.edges_b", "bktest.nodes_b"


def test_co_located_anti_join_no_exchange(spark, bucketed):
    edge_t, node_t = bucketed
    # at test scale the planner prefers broadcast (also a fine plan, but a
    # BroadcastExchange); disable it to surface the big-table plan shape
    # the bucketing exists for — SortMergeJoin over aligned buckets
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = co_located_unmatched(spark, edge_t, node_t, "o_custkey")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and it is the J2 result: exactly the planted out-of-range endpoints
        n_planted = spark.table(edge_t).filter(
            F.col("o_custkey") > 10_000_000
        ).count()
        assert out.count() == n_planted > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_unbucketed_same_join_shuffles(spark, sf_dir):
    """Control: the identical join over plain parquet reads DOES shuffle —
    the Exchange the bucketed layout removes."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = orders.select(F.col("o_custkey")).join(
        cust.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_anti"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan or "Broadcast" in plan


def test_incremental_dedup_bucketed_store_saves_store_exchange(spark):
    """The fingerprint store of dedupe_exact_incremental, written
    BUCKETED BY fp_md5, joins the batch anti-join without a store-side
    Exchange — one fewer shuffle than the plain-parquet store (the
    recurring-ingest layout)."""
    import shutil

    from neontology_spark.dedup import dedupe_exact_incremental
    from neontology_spark.textops import fingerprint_md5

    docs = spark.createDataFrame(
        [(i, f"document number {i} content") for i in range(200)],
        "doc_id long, text string",
    )
    fps = docs.select(fingerprint_md5("text").alias("fp_md5")).dropDuplicates()

    spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
    for t in ("fps_b", "fps_plain"):
        spark.sql(f"DROP TABLE IF EXISTS bktest.{t}")
        shutil.rmtree(f"spark-warehouse/bktest.db/{t}", ignore_errors=True)
    write_bucketed(fps, "bktest.fps_b", "fp_md5", n_buckets=8)
    fps.write.format("parquet").saveAsTable("bktest.fps_plain")

    batch = spark.createDataFrame(
        [(1000 + i, f"document number {i} content") for i in range(50)]
        + [(2000, "genuinely new content")],
        "doc_id long, text string",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        kept_b = dedupe_exact_incremental(
            batch, spark.table("bktest.fps_b"), cache=False
        ).kept
        kept_p = dedupe_exact_incremental(
            batch, spark.table("bktest.fps_plain"), cache=False
        ).kept
        # capture BOTH plans pre-execution: a collected DataFrame reports
        # the AQE-final plan whose text counts Exchanges differently
        plan_b = kept_b._jdf.queryExecution().executedPlan().toString()
        plan_p = kept_p._jdf.queryExecution().executedPlan().toString()
        assert [r["doc_id"] for r in kept_b.collect()] == [2000]
        # identical store content, only the layout differs: the bucketed
        # store scan joins in place (one fewer Exchange, Bucketed: true)
        assert "Bucketed: true" in plan_b
        assert plan_b.count("Exchange") == plan_p.count("Exchange") - 1, (
            plan_b.count("Exchange"),
            plan_p.count("Exchange"),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_spread_to_parallelism_skips_well_split_inputs(spark, tmp_path):
    """Known stats: a scan over at least defaultParallelism files is
    returned untouched; a one-file input is still spread round-robin,
    even when Spark cuts that file into defaultParallelism splits (its
    single row group leaves all splits but one empty), and so is a
    one-partition non-file input."""
    from neontology_spark.bucketing import spread_to_parallelism

    n = spark.sparkContext.defaultParallelism
    wide_path = str(tmp_path / "wide.parquet")
    spark.range(0, 50_000, 1, 2 * n).write.parquet(wide_path)
    wide = spark.read.parquet(wide_path)
    assert len(wide.inputFiles()) == 2 * n
    assert spread_to_parallelism(wide, min_bytes=0) is wide

    one_path = str(tmp_path / "one.parquet")
    spark.range(0, 50_000, 1, 1).write.parquet(one_path)
    one = spark.read.parquet(one_path)
    (size,) = [f.stat().st_size for f in tmp_path.glob("one.parquet/*.parquet")]
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(size // n))
    try:
        assert one.rdd.getNumPartitions() >= n
        spread = spread_to_parallelism(one, min_bytes=0)
        assert spread is not one
        assert spread.rdd.getNumPartitions() == n
    finally:
        spark.conf.set(key, old)

    small = spark.range(0, 1_000, 1, 1)
    spread = spread_to_parallelism(small, min_bytes=0)
    assert spread is not small
    assert spread.rdd.getNumPartitions() == n

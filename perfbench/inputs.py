"""Benchmark inputs.

Seed-independent tables are built once per checkout and cached under
``perfbench/.work/cache``: the image table and its clean baseline (from
``generate_images``, whose pixel seed is fixed) and a TPC-H database from
DuckDB's built-in ``dbgen``.  The workload seed only picks what is derived
from them at set-up: the resume split, the merge batch keys and the drift
baseline half.
"""

from __future__ import annotations

import os
import random
import shutil

N_IMAGES = 8_192
N_IMAGE_PARTS = 16
TPCH_SF = 0.1
TPCH_TABLES = ("orders", "lineitem", "part")

# selector for seeded row subsets that DuckDB and Spark both see as files:
# a multiplicative hash of the row key, shifted by the seed
_MIX = 2654435761


def _cached(path: str, build) -> str:
    """Build ``path`` once; a half-written build never counts as done."""
    done = os.path.join(path, "_BUILT")
    if os.path.exists(done):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_BUILT"), "w").close()
    os.rename(tmp, path)
    return path


def image_tables(spark, cache: str) -> tuple[str, str]:
    """(planted image table partitioned by ``part``, clean baseline)."""
    from neontology_spark.images import generate_images

    def build(out: str) -> None:
        # one file per partition directory, as a partitioned table lands
        (
            generate_images(spark, n_rows=N_IMAGES, n_parts=N_IMAGE_PARTS)
            .repartition(N_IMAGE_PARTS, "part")
            .write.partitionBy("part")
            .parquet(os.path.join(out, "images"))
        )
        (
            generate_images(spark, n_rows=N_IMAGES, n_parts=N_IMAGE_PARTS, plant_violations=False)
            .repartition(4)
            .write.parquet(os.path.join(out, "baseline"))
        )

    root = _cached(os.path.join(cache, f"images_n{N_IMAGES}_p{N_IMAGE_PARTS}"), build)
    return os.path.join(root, "images"), os.path.join(root, "baseline")


def tpch(cache: str) -> str:
    import duckdb

    def build(out: str) -> None:
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute(f"CALL dbgen(sf={TPCH_SF})")
            for t in TPCH_TABLES:
                con.execute(f"COPY {t} TO '{os.path.join(out, t)}.parquet' (FORMAT parquet)")
        finally:
            con.close()

    return _cached(os.path.join(cache, f"tpch_sf{TPCH_SF}"), build)


def resume_split(seed: int) -> list[int]:
    """The 4 of 16 image partitions that land after the earlier run."""
    return sorted(random.Random(seed).sample(range(N_IMAGE_PARTS), 4))


def _sel(key: str, seed: int) -> str:
    # the seed's offset is reduced here, so any integer seed stays within
    # DuckDB's 32-bit integer literals
    return f"(({key} * {_MIX} + {seed * 7919 % 1000}) % 1000)"


def ingest_inputs(con, src: str, out: str, seed: int) -> None:
    """Existing tables and an ingest batch, chosen by ``seed``:

    * orders with selector < 100 are new (only in the batch);
    * orders with selector in [100, 200) are updated by the batch, and those
      in [100, 110) appear twice in it (the higher ``row_id`` must win);
    * lineitem edges follow their order; edges of orders in [150, 155) are
      re-sent with a source key no order has (referential-integrity orphans).
    """
    o, li = f"'{src}/orders.parquet'", f"'{src}/lineitem.parquet'"
    so, sl = _sel("o_orderkey", seed), _sel("l_orderkey", seed)
    edge_cols = (
        "l_orderkey AS source, l_partkey AS target, l_linenumber, l_quantity, "
        "l_extendedprice, l_shipmode, l_comment"
    )
    stmts = {
        "orders_existing": f"SELECT * FROM {o} WHERE {so} >= 100",
        "orders_batch": f"""
            SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                   CAST(o_totalprice + 1 AS DECIMAL(15,2)) AS o_totalprice,
                   o_orderdate, '9-BENCH' AS o_orderpriority, o_clerk,
                   o_shippriority, 'batch ' || o_comment AS o_comment,
                   o_orderkey * 2 AS row_id
            FROM {o} WHERE {so} < 200
            UNION ALL
            SELECT o_orderkey, o_custkey, 'S', CAST(o_totalprice AS DECIMAL(15,2)),
                   o_orderdate, '0-STALE', o_clerk, o_shippriority, 'stale',
                   o_orderkey * 2 - 1
            FROM {o} WHERE {so} >= 100 AND {so} < 110""",
        "edges_existing": f"SELECT {edge_cols} FROM {li} WHERE {sl} >= 100",
        "edges_batch": f"""
            SELECT l_orderkey AS source, l_partkey AS target, l_linenumber,
                   CAST(l_quantity + 1 AS DECIMAL(15,2)) AS l_quantity,
                   l_extendedprice, 'BENCH' AS l_shipmode,
                   'batch ' || l_comment AS l_comment
            FROM {li} WHERE {sl} < 150
            UNION ALL
            SELECT l_orderkey + 1000000000, l_partkey, l_linenumber, l_quantity,
                   l_extendedprice, l_shipmode, l_comment
            FROM {li} WHERE {sl} >= 150 AND {sl} < 155""",
    }
    for name, sql in stmts.items():
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT parquet)")


def baseline_half(con, src: str, out: str, seed: int) -> None:
    """The seeded half of lineitem that serves as the drift baseline."""
    sql = f"SELECT * FROM '{src}/lineitem.parquet' WHERE {_sel('l_orderkey', seed)} < 500"
    con.execute(f"COPY ({sql}) TO '{out}/baseline.parquet' (FORMAT parquet)")

"""Bucketed-table seam: co-located joins for the hot RI/uniqueness keys.

At 10^12 rows the dominant shuffle in the validation suite is the
referential-integrity join (edge table ⋈ node table on the endpoint key)
and any repeated equi-join on the same key. Spark's answer is bucketing:
persist both tables ``bucketBy(N, key)`` and an equi-join on that key
becomes a zero-Exchange SortMergeJoin — each bucket pair joins in place,
task-local, at every subsequent run (validation is a recurring job, so
the one-time bucketed write amortizes across every later suite run).

This module is the thin seam over ``saveAsTable``: bucketing metadata
lives in the session catalog (in production: Iceberg bucket-partition
transforms / Hive metastore; in-sandbox: the local Spark warehouse —
same plan shapes, pytest-asserted via ``Exchange`` absence).

Reference anchor: the reference leans on Neo4j's native key index for
every MATCH (graphengine.py:319-330); a bucketed layout is the
warehouse-native analogue — the key's hash-location is precomputed into
the storage layout instead of an index.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 64,
    sort_within: bool = True,
) -> None:
    """Persist ``df`` bucketed (and per-bucket sorted) on ``bucket_col``.

    ``sort_within=True`` additionally sorts each bucket file on the key:
    SortMergeJoin then skips its per-task sort too, and point lookups
    (F1 ``match_one``) binary-search row groups via min/max stats.
    ``n_buckets`` must MATCH across tables meant to co-join — bucket
    alignment is what removes the Exchange."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_within:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)


def co_located_unmatched(
    spark: SparkSession,
    edge_table: str,
    node_table: str,
    edge_key: str,
    node_key: Optional[str] = None,
) -> DataFrame:
    """RI unmatched-endpoint check over two bucketed catalog tables:
    edge rows whose key has no node — the J2 anti-join — with NO shuffle
    Exchange on either side when both tables are bucketed on their key
    with equal bucket counts (plan-shape pytest-asserted)."""
    node_key = node_key or edge_key
    edges = spark.table(edge_table)
    nodes = spark.table(node_table)
    # no dedup needed: left_anti is insensitive to right-side duplicates,
    # and skipping it keeps the right side a bare bucketed scan
    return edges.join(
        nodes.select(F.col(node_key).alias(edge_key)),
        edge_key,
        "left_anti",
    )


def spread_to_parallelism(df: DataFrame, min_bytes: int = 8 << 20) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism
    when the incoming plan yields fewer partitions.

    Compute-heavy per-row stages (text normalization fingerprints,
    signature folds, vector scoring) inherit the SCAN's partitioning —
    and a few-MB parquet table is 1-2 input splits at the session's
    split size, so without this those stages run on 1-2 cores of the
    whole cluster (measured r6: the documents table's md5-normalize
    fingerprint pass ran single-core at sf1.0). At production sizes the
    scan already yields >= defaultParallelism splits and this is a
    no-op; the repartition fires exactly when the shuffle it adds is
    negligible.

    A scan over at least defaultParallelism files is left alone: Spark
    charges each file ``spark.sql.files.openCostInBytes``, so its split
    size (``FilePartition.maxSplitBytes``) is then at most
    total / defaultParallelism and the files spread over at least that
    many splits. The file count stands in for the two figures that
    mislead here: the size estimate (a cross join inflates it — the
    ``dedup_exact`` union over one file estimates ~76 MB at sf0.1) and
    the planned split count (a file with one parquet row group is cut
    into several splits, all but one empty).

    ``min_bytes``: inputs ESTIMATED below this (logical-plan stats — a
    driver-side constant-time probe) are left alone — for cheap per-row
    work the shuffle costs more than it saves (measured r6: +0.4 s on
    the sf0.1 dedup_exact path). Callers whose per-row work is heavy
    relative to bytes (vector signature/scoring folds) pass
    ``min_bytes=0``. Decisions come from the logical stats alone
    (cheap); the physical partition probe (``.rdd`` — it forces a full
    physical planning pass, ~0.2 s on composite plans) runs only when
    stats are unavailable/unknown."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        est = None
    if est is not None and est < (1 << 60):  # known, non-sentinel stats
        if min_bytes <= est < _SPREAD_CAP_BYTES and len(df.inputFiles()) < n:
            return df.repartition(n)
        return df
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


# above this estimated size any sane split config already yields >=
# cluster-parallelism scan splits, and repartitioning would shuffle real
# bytes — leave such inputs to their natural partitioning
_SPREAD_CAP_BYTES = 4 << 30

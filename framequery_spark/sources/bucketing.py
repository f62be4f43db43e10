"""Bucketed table layout: pre-shuffled, co-located joins.

The 100 TB pattern the brief calls "bucketing for co-located joins": pay the
shuffle ONCE at write time (rows hash-partitioned into a fixed number of
buckets per table), then every subsequent equi-join or aggregation on the
bucket key reads co-located buckets and skips the exchange entirely — the
plan shows SortMergeJoin over two bucketed scans with NO Exchange on either
side (asserted in tests/test_plans.py).

For a fact table joined daily against several dims on the same key, this
converts every join from O(|fact|) shuffle traffic to zero; the write-time
cost amortizes across all downstream queries. Spark requires saveAsTable
(the bucket metadata lives in the catalog, not the parquet files); in
local/test mode that is the embedded in-memory catalog + local warehouse
dir, on a cluster the same call goes to the metastore.

Beyond-reference surface: the reference (chmp/framequery) has no physical
layout control at all (pandas in-memory frames only).
"""

from __future__ import annotations

import shutil
from typing import Optional, Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame


def write_bucketed(df: DataFrame, table: str, bucket_cols: Sequence[str],
                   num_buckets: int = 16,
                   sort_cols: Optional[Sequence[str]] = None) -> DataFrame:
    """Persist `df` as a bucketed (and optionally per-bucket sorted) parquet
    table and return the catalog-backed frame. Joins/aggregations between
    tables bucketed on the same keys with the same bucket count skip their
    shuffles (and, with sort_cols, their sorts).

    num_buckets: choose ≈ (total data size / 128 MB) rounded to a power of
    two; both sides of a co-located join must use the same keys and count.
    Read the table back with ``spark.table(table)``: the bucket metadata
    lives in the catalog, so a raw path read would lose it."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # an orphaned managed-table location (e.g. from a previous session's
    # in-memory catalog) blocks re-creation — clear it
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    path = urlparse(warehouse).path or warehouse
    shutil.rmtree(f"{path}/{table.lower()}", ignore_errors=True)
    w = (df.write.format("parquet").mode("overwrite")
         .bucketBy(num_buckets, *bucket_cols))
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
    return spark.table(table)


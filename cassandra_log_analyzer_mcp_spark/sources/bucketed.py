"""Bucketed-table materialization for co-located (shuffle-free) joins.

At 100 TB the orders⋈lineitem shuffle is the dominant cost of the
analytic queries; pre-bucketing both tables on the join key at write
time removes it from EVERY subsequent join (the classic silver-layer
layout decision). This module materializes bucketed copies and the
tests assert the join plan contains no Exchange on the bucketed path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .tables import table


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Materialize a bucketed+sorted table (external when path given —
    the warehouse dir is a static conf, so tests park tables in tmp)."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col:
        writer = writer.sortBy(sort_col)
    if path:
        writer = writer.option("path", f"{path}/{name}")
    writer.saveAsTable(name)


def bucketize_order_lineitem(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8,
    path: str | None = None,
) -> tuple[str, str]:
    """Bucket orders and lineitem on the join key; returns table names."""
    write_bucketed(
        table(spark, sf_dir, "orders"), "orders_b", "o_orderkey", n_buckets,
        path=path,
    )
    write_bucketed(
        table(spark, sf_dir, "lineitem"), "lineitem_b", "l_orderkey",
        n_buckets, path=path,
    )
    return "orders_b", "lineitem_b"

"""Idempotent upsert sinks over parquet (the S5/S6 operators).

The reference upserts fetched batches by primary key into SQLite
(`INSERT OR REPLACE`, /root/reference/src/cache.rs:322-339) and
maintains a per-channel min/max bounds summary via conflict-merge
(cache.rs:356-367). On a lakehouse this is Iceberg/Delta `MERGE INTO`;
those jars aren't in this image, so the engine ships the same semantics
as an atomic read→anti-join→union→rewrite over a parquet directory —
correct, idempotent, and swappable for MERGE INTO when a table format
is on the classpath.

Scale note: full-rewrite upsert is O(table); real deployments partition
the target (days(ts)) and rewrite only partitions present in the batch
(`upsert_partitioned`), which is exactly Iceberg's copy-on-write MERGE
cost model.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, functions as F


def _atomic_swap(src_dir: str, dst_dir: str) -> None:
    back = dst_dir + f".old-{uuid.uuid4().hex[:8]}"
    if os.path.exists(dst_dir):
        os.replace(dst_dir, back)
    os.replace(src_dir, dst_dir)
    if os.path.exists(back):
        shutil.rmtree(back)


def upsert_parquet(
    spark, target_dir: str, batch: DataFrame, keys: list[str]
) -> None:
    """INSERT-OR-REPLACE ``batch`` into the parquet table at target_dir.

    Matched keys take the batch row (reference REPLACE semantics);
    re-running with the same batch is a no-op in content (ST8).
    """
    batch = batch.dropDuplicates(keys)
    if os.path.exists(target_dir):
        current = spark.read.parquet(target_dir)
        keep = current.join(F.broadcast(batch.select(*keys)), keys, "left_anti")
        merged = keep.unionByName(batch)
    else:
        merged = batch
    tmp = target_dir + f".tmp-{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(tmp)
    _atomic_swap(tmp, target_dir)


def upsert_partitioned(
    spark,
    target_dir: str,
    batch: DataFrame,
    keys: list[str],
    partition_col: str,
) -> list[str]:
    """Partition-scoped upsert: rewrite ONLY partitions the batch
    touches (copy-on-write MERGE cost model). Returns rewritten
    partition values."""
    parts = [
        str(r["p"])
        for r in batch.select(F.col(partition_col).alias("p")).distinct().collect()
    ]
    for p in parts:
        sub_dir = os.path.join(target_dir, f"{partition_col}={p}")
        sub_batch = batch.where(F.col(partition_col) == p).drop(partition_col)
        if os.path.exists(sub_dir):
            current = spark.read.parquet(sub_dir)
            keep = current.join(
                F.broadcast(sub_batch.select(*keys)), keys, "left_anti"
            )
            merged = keep.unionByName(sub_batch)
        else:
            merged = sub_batch
        tmp = sub_dir + f".tmp-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(tmp)
        _atomic_swap(tmp, sub_dir)
    return parts


def merge_bounds(
    spark, bounds_path: str, key: str, new_bounds: DataFrame
) -> DataFrame:
    """S6 — mergeable min/max summary upsert (cache.rs:356-367):
    on conflict take least(min)/greatest(max). new_bounds schema:
    (key, min_ts, max_ts). Returns the merged table (also persisted)."""
    if os.path.exists(bounds_path):
        cur = spark.read.parquet(bounds_path)
        merged = (
            cur.unionByName(new_bounds)
            .groupBy(key)
            .agg(
                F.min("min_ts").alias("min_ts"),
                F.max("max_ts").alias("max_ts"),
            )
        )
    else:
        merged = new_bounds
    tmp = bounds_path + f".tmp-{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(tmp)
    _atomic_swap(tmp, bounds_path)
    return spark.read.parquet(bounds_path)


def merge_into_iceberg(
    spark, table: str, batch: DataFrame, keys: list[str]
) -> None:
    """Iceberg-native exactly-once upsert: ``MERGE INTO`` keyed on
    ``keys`` — the lakehouse form of :func:`upsert_parquet` (reference
    INSERT OR REPLACE, cache.rs:322-339). Requires the Iceberg runtime
    on the classpath and ``table`` in an Iceberg catalog; use
    :func:`tgdigest_spark.sources.transcripts.iceberg_available` to
    branch. Matched rows take the batch row; re-running the same batch
    is a content no-op (ST8)."""
    view = f"_upsert_batch_{uuid.uuid4().hex[:8]}"
    batch.dropDuplicates(keys).createOrReplaceTempView(view)
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    try:
        spark.sql(
            f"MERGE INTO {table} t USING {view} s ON {on} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    finally:
        spark.catalog.dropTempView(view)

"""Transcript table layout: how the fact table is written at scale.

Layout contract (FIXTURES.md §1, SURVEY.md §1.3):
* partitioned by ``days(ts)`` — replaces the reference's
  (channel, date, id) index (cache.rs:107-108) with partition pruning;
* sorted within partitions by (conv_id, turn_idx) — per-conversation
  operators (lag latency, grouped sketches, album-style windows) read
  co-located, pre-sorted runs; parquet min/max zone maps give the
  early-termination effect of the reference's sorted-scan break
  (post.rs:35-37).

Iceberg is the intended catalog (MERGE INTO, snapshots, hidden
partitioning); its jars aren't in this image, so the writer falls back
to plain partitioned parquet with the identical physical layout. The
checkpoint layer (plans/) supplies the snapshot/incremental semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TRANSCRIPTS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def iceberg_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def write_transcripts_table(
    df: DataFrame,
    path_or_table: str,
    use_iceberg: bool | None = None,
    target_file_rows: int = 1_000_000,
) -> None:
    """Write the transcripts fact table in the engine's layout.

    ``target_file_rows`` bounds rows per output file via
    ``spark.sql.files.maxRecordsPerFile`` (set for the duration of the
    write, then restored): the repartition("ts_day") above funnels each
    day into one task, so without the cap a hot day would produce one
    giant file no executor can split on read.
    """
    spark = df.sparkSession
    if use_iceberg is None:
        use_iceberg = iceberg_available(spark)
    staged = (
        df.withColumn("ts_day", F.to_date("ts"))
        .repartition("ts_day")
        .sortWithinPartitions("ts_day", "conv_id", "turn_idx")
    )
    conf_key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, str(int(target_file_rows)))
    try:
        if use_iceberg:  # exercised by tests/test_iceberg_path.py when
            # the Iceberg runtime jar is on the classpath (recipe in
            # .claude/skills/verify/SKILL.md)
            (
                staged.drop("ts_day")
                .writeTo(path_or_table)
                .partitionedBy(F.days(F.col("ts")))
                .createOrReplace()
            )
        else:
            staged.write.mode("overwrite").partitionBy("ts_day").parquet(
                path_or_table
            )
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


def read_transcripts(
    spark, path_or_table: str, keep_partition_col: bool = True
) -> DataFrame:
    """Read the layout. ``ts_day`` stays by default: it is the pruning
    key ``range_scan`` needs — dropping it up front silently disables
    partition pruning for every downstream range query (the projection
    removes the column the predicate must bind to). Pass
    ``keep_partition_col=False`` for a schema-clean frame when no
    range queries will follow."""
    df = spark.read.parquet(path_or_table)
    if not keep_partition_col and "ts_day" in df.columns:
        df = df.drop("ts_day")
    return df


def write_transcripts_bucketed(
    df: DataFrame,
    table_name: str,
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Write the per-conversation analytics layout: a bucketed table
    ``bucketBy(n_buckets, conv_id) sortBy(conv_id, turn_idx)``.

    Why it exists: the one raw-row shuffle left in the engine is
    co-locating conversations (lag-latency window, per-conv digests) —
    measured 2.7 GB shuffled per pass at 10^8 rows (BENCH.md rehearsal
    table). A bucketed scan reports HashPartitioning(conv_id), so
    Catalyst drops the Exchange for every operator that clusters by
    conv_id: the window query becomes shuffle-free automatically, and
    ``sketch_by_key(..., method='clustered')`` turns per-conversation
    sketches into a single map pass. The shuffle is paid ONCE at write
    time instead of once per query — the right trade for a fact table
    read by many per-conversation queries.

    Sizing ``n_buckets``: one scan task reads one whole bucket, so pick
    n_buckets ≈ table_bytes / target_split (e.g. 256 MB); too few
    buckets caps read parallelism and makes the clustered combine hold
    an oversized partition.

    ``path`` makes the table external (required for cross-session
    reuse — pair with :func:`register_bucketed_table`).
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def register_bucketed_table(
    spark, table_name: str, path: str, n_buckets: int
) -> None:
    """Re-attach an existing bucketed directory in a fresh session.

    The in-memory catalog forgets tables between sessions; the files
    carry bucket ids in their names, but the BUCKET SPEC lives in the
    catalog — without re-registering it Spark reads the directory as a
    plain (unclustered) parquet scan and every co-location guarantee
    silently vanishes. On a real cluster a persistent metastore (or
    Iceberg catalog) makes this a one-time operation.
    """
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    spark.sql(
        f"CREATE TABLE {table_name} ({TRANSCRIPTS_SCHEMA}) USING parquet "
        f"CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx) "
        f"INTO {int(n_buckets)} BUCKETS LOCATION '{path}'"
    )


def read_transcripts_bucketed(
    spark, table_name: str, force_bucketed_scan: bool = True
):
    """Read the bucketed layout for per-conversation analytics.

    ``force_bucketed_scan=True`` disables
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled`` for the
    SESSION: by default Spark falls back to size-split scans when no
    operator *requires* the hash distribution, which would silently
    break the co-location contract of ``method='clustered'`` sketches
    (a pure mapInPandas declares no required distribution). Window /
    groupBy consumers don't need the flag — their required distribution
    triggers the bucketed scan on its own — and the library's own
    single pass and latency ops stay correct without it, paying one
    Exchange; leaving it set is safe: it only pins bucket-aligned reads
    of bucketed tables.
    """
    if force_bucketed_scan:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
    return spark.table(table_name)


def range_scan(
    df: DataFrame, start: str, end: str, ts_col: str = "ts"
) -> DataFrame:
    """Closed-interval timestamp range over the layout, WITH pruning.

    Iceberg's hidden ``days(ts)`` partitioning derives the partition
    predicate from the ``ts`` range automatically; on the plain-parquet
    fallback layout the ``ts_day`` predicate must be written explicitly
    or the scan lists EVERY partition (empty PartitionFilters) and
    relies on row-group stats alone — at 100 TB that is the difference
    between listing 3 directories and listing ~36,500."""
    out = df.where(F.col(ts_col).between(start, end))
    if "ts_day" in df.columns:
        out = out.where(
            F.col("ts_day").between(
                F.to_date(F.lit(start)), F.to_date(F.lit(end))
            )
        )
    return out

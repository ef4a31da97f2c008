"""The reference's flagship query semantics, Spark-first.

Pipeline parity with /root/reference (§3.1 of SURVEY.md):

    read → dedup by id (main.rs:157-165) → closed date-range filter
    (cache.rs:176) → album first-per-group dedup (cache.rs:181,205-211)
    → 4-way top-k per metric (post.rs:76-90) → card/slim projection
    (workers/digest.rs:31-50, workers/card.rs:27-44)

Architecture: instead of the reference's four independent partial
sorts over the same vector, the engine unpivots the 4 metric columns
into (metric, count) rows and ranks with ONE window shuffle
(row_number over partitionBy(channel, metric)). Null semantics match
Option<i32> ordering: desc_nulls_last (post.rs:78, None < Some). Ties
are made deterministic with id ASC — a documented deviation from the
reference's unstable partial_sort (SURVEY.md §2.4 T4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

METRICS = ("replies", "reactions", "forwards", "views")


def dedup_posts(posts: DataFrame) -> DataFrame:
    """D1 — drop duplicate (channel, id) rows (cache may hold
    overlapping fetches; reference sorts+dedups at main.rs:162-163)."""
    return posts.dropDuplicates(["channel", "id"])


def dedup_albums(posts: DataFrame) -> DataFrame:
    """D2 — keep the first-seen row per (channel, grouped_id), order =
    (date, id) scan order; rows with NULL grouped_id always pass
    (reference consults the HashSet only for Some(grouped_id),
    cache.rs:181, 205-211)."""
    w = Window.partitionBy("channel", "grouped_id").orderBy("date", "id")
    return (
        posts.withColumn(
            "_rn",
            F.when(F.col("grouped_id").isNull(), F.lit(1)).otherwise(
                F.row_number().over(w)
            ),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def range_filter(posts: DataFrame, from_ts, to_ts) -> DataFrame:
    """P1 — CLOSED interval [from, to] (cache.rs:176 BETWEEN)."""
    return posts.where(F.col("date").between(F.lit(from_ts), F.lit(to_ts)))


def unpivot_metrics(posts: DataFrame) -> DataFrame:
    """P5 — the reference's 4-way enum dispatch (post.rs:56-63) as an
    unpivot: one (metric, count) dim instead of four ranked passes."""
    stack = ", ".join(f"'{m}', {m}" for m in METRICS)
    return posts.selectExpr(
        "channel", "id", "date", "message", f"stack(4, {stack}) as (metric, count)"
    )


def top_posts(
    posts: DataFrame,
    top_count: int = 3,
    from_ts=None,
    to_ts=None,
    dedup: bool = True,
) -> DataFrame:
    """T1-T5 — top-k rows per (channel, metric), nulls last.

    Returns DataFrame[channel, metric, rank, id, date, message, count].
    One shuffle (the ranking window); Catalyst turns the per-partition
    sort into a bounded top-k via the rank filter + WindowGroupLimit.
    """
    df = posts
    if dedup:
        df = dedup_posts(df)
    if from_ts is not None and to_ts is not None:
        df = range_filter(df, from_ts, to_ts)
    if dedup:
        df = dedup_albums(df)
    unpiv = unpivot_metrics(df)
    w = Window.partitionBy("channel", "metric").orderBy(
        F.desc_nulls_last("count"), F.asc("id")
    )
    return (
        unpiv.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_count)
        .select("channel", "metric", "rank", "id", "date", "message", "count")
    )


def slim_cards(top: DataFrame) -> DataFrame:
    """P4 — digest JSON projection: [id, count] pairs with null→0,
    null-count cards dropped (workers/digest.rs:31-50 +
    workers/card.rs:40-41: cards whose count is None are filtered
    before rendering, and to_json maps unwrap_or(0))."""
    return top.where(F.col("count").isNotNull()).select(
        "channel",
        "metric",
        "rank",
        "id",
        F.coalesce(F.col("count"), F.lit(0)).alias("count"),
    )

"""Bucketed-by-conv_id layout: the shuffle-free per-conversation path.

The rehearsal profile (BENCH.md) shows the only raw-row shuffles left
are conv_id co-location (lag-latency window 2.76 GB, per-conv digest
blobs 2.4 GB at 10^8 rows). Bucketing the fact table by conv_id pays
that shuffle once at write time; these tests pin the three guarantees:

1. the lag-latency window plans with NO Exchange over the bucketed
   table (and DOES exchange over the plain layout — the contrast keeps
   the assertion honest);
2. results over both layouts are identical;
3. ``sketch_by_key(method='clustered')`` over the bucketed read equals
   the shuffled ``combine`` topology, with a shuffle-free plan.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_transcripts(spark, transcripts, tmp_path_factory):
    from tgdigest_spark.sources.transcripts import (
        read_transcripts_bucketed,
        write_transcripts_bucketed,
    )

    path = str(tmp_path_factory.mktemp("bucketed") / "transcripts_b8")
    write_transcripts_bucketed(
        transcripts, "transcripts_b8", n_buckets=8, path=path
    )
    df = read_transcripts_bucketed(spark, "transcripts_b8")
    yield df
    spark.sql("DROP TABLE IF EXISTS transcripts_b8")
    spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")


def test_latency_window_no_exchange_over_bucketed(
    spark, transcripts, bucketed_transcripts
):
    from tgdigest_spark.api import interturn_latency_seconds

    bucketed_plan = _plan(interturn_latency_seconds(bucketed_transcripts))
    plain_plan = _plan(interturn_latency_seconds(transcripts))
    assert "Exchange" not in bucketed_plan
    assert "Bucketed: true" in bucketed_plan
    # contrast: the plain layout must co-locate conversations first
    assert "Exchange hashpartitioning(conv_id" in plain_plan


def test_latency_rows_identical_across_layouts(
    spark, transcripts, bucketed_transcripts
):
    from tgdigest_spark.api import interturn_latency_seconds

    key = ["conv_id", "turn_idx"]
    a = sorted(
        interturn_latency_seconds(transcripts).collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    b = sorted(
        interturn_latency_seconds(bucketed_transcripts).collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    assert a == b


def test_clustered_sketch_no_shuffle_and_matches_combine(
    spark, transcripts, bucketed_transcripts
):
    """method='clustered' over the bucketed read: one map pass, no
    Exchange, same per-group results as the shuffled combine topology.

    t-digests are merge-tree-dependent above delta/2 unit weights, so
    equality is asserted on KLL (deterministic for a fixed value
    multiset: both paths feed each group's full sorted values in one
    update) and on exact group counts for the t-digest flavor.
    """
    from tgdigest_spark.agg import sketch_by_key
    from tgdigest_spark.api import grouped_quantiles_kll
    from tgdigest_spark.sketches.kll import KLL

    val = F.length("text").cast("double")

    clustered = grouped_quantiles_kll(
        bucketed_transcripts, ["conv_id"], val, [0.5, 0.95], method="clustered"
    )
    assert "Exchange" not in _plan(clustered)

    combined = grouped_quantiles_kll(
        transcripts, ["conv_id"], val, [0.5, 0.95], method="combine"
    )
    rows_c = {r.conv_id: (r.p50, r.p95) for r in clustered.collect()}
    rows_m = {r.conv_id: (r.p50, r.p95) for r in combined.collect()}
    assert rows_c == rows_m

    # one blob per key even though several buckets share a scan task
    blobs = sketch_by_key(
        bucketed_transcripts,
        ["conv_id"],
        val,
        lambda: KLL(200),
        method="clustered",
    )
    n_keys = transcripts.select("conv_id").distinct().count()
    assert blobs.count() == n_keys


def test_clustered_contract_violated_on_plain_read_yields_partials(
    spark, transcripts
):
    """Documented failure mode: clustered over NON-co-located input
    returns one row per (key, partition touched), not per key — the
    test pins the contract so the trap stays visible."""
    from tgdigest_spark.agg import sketch_by_key
    from tgdigest_spark.sketches.kll import KLL

    scattered = transcripts.repartition(8)  # round-robin: keys span tasks
    blobs = sketch_by_key(
        scattered,
        ["conv_id"],
        F.length("text").cast("double"),
        lambda: KLL(200),
        method="clustered",
    )
    n_keys = transcripts.select("conv_id").distinct().count()
    assert blobs.count() > n_keys


def test_register_bucketed_table_roundtrip(
    spark, transcripts, tmp_path_factory
):
    """A fresh-catalog re-register over the same directory restores the
    bucket spec (DESCRIBE shows the clustering) and the no-Exchange
    window plan."""
    from tgdigest_spark.api import interturn_latency_seconds
    from tgdigest_spark.sources.transcripts import (
        register_bucketed_table,
        write_transcripts_bucketed,
    )

    path = str(tmp_path_factory.mktemp("bucketed_rt") / "t_rt")
    write_transcripts_bucketed(transcripts, "t_rt", n_buckets=4, path=path)
    spark.sql("DROP TABLE t_rt")  # external: files survive the drop
    register_bucketed_table(spark, "t_rt", path, n_buckets=4)
    try:
        df = spark.table("t_rt")
        assert df.count() == transcripts.count()
        assert "Exchange" not in _plan(interturn_latency_seconds(df))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_rt")


@pytest.fixture(scope="module")
def bucketed6(spark, transcripts, tmp_path_factory):
    """Six buckets: a width the single pass would not pick on its own
    (one task per core), so a zero-Exchange plan shows that the bucket
    count was read from the scan."""
    from tgdigest_spark.sources.transcripts import (
        read_transcripts_bucketed,
        write_transcripts_bucketed,
    )

    assert spark.sparkContext.defaultParallelism != 6
    path = str(tmp_path_factory.mktemp("bucketed6") / "transcripts_b6")
    write_transcripts_bucketed(transcripts, "transcripts_b6", n_buckets=6, path=path)
    df = read_transcripts_bucketed(spark, "transcripts_b6")
    yield df
    spark.sql("DROP TABLE IF EXISTS transcripts_b6")
    spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")


def test_single_pass_reads_bucket_width(spark, transcripts, bucketed6):
    from tgdigest_spark.agg import _auto_method, _plan_facts, _single_pass_partitions

    assert _plan_facts(bucketed6, ["conv_id"]).bucket_width == 6
    assert _single_pass_partitions(bucketed6, ["conv_id"]) == 6
    # co-located input takes the single pass whatever the group sizes
    assert _auto_method(bucketed6, ["conv_id"]) == "repartition"
    assert _plan_facts(bucketed6, ["role"]).bucket_width is None
    assert _plan_facts(transcripts, ["conv_id"]).bucket_width is None


def test_per_conversation_ops_plan_no_exchange_over_bucketed(
    spark, transcripts, bucketed6, monkeypatch
):
    """The by-conversation quantiles and both latency ops run on the
    buckets as they are: no Exchange, same rows as the plain layout."""
    from tgdigest_spark import api

    seen = []
    real = api._tree_merge

    def spy(partials, factory, fanout):
        seen.append(partials)
        return real(partials, factory, fanout)

    monkeypatch.setattr(api, "_tree_merge", spy)
    length = F.length("text").cast("double")
    qs = [0.5, 0.95]

    def by_conv(df):
        return sorted(df.collect(), key=lambda r: r.conv_id)

    for run in (
        lambda t: api.grouped_quantiles(t, ["conv_id"], length, qs),
        lambda t: api.grouped_quantiles_kll(t, ["conv_id"], length, qs),
        lambda t: api.grouped_latency_quantiles(t, qs),
    ):
        got = run(bucketed6)
        assert "Exchange" not in _plan(got)
        assert by_conv(got) == by_conv(run(transcripts))

    bucketed_q = api.latency_quantiles(bucketed6, qs)
    assert "Exchange" not in _plan(seen[-1])
    plain_q = api.latency_quantiles(transcripts, qs)
    lat = np.sort(
        np.array(
            [r.latency_s for r in api.interturn_latency_seconds(transcripts).collect()]
        )
    )
    for q in qs:
        for est in (bucketed_q[q], plain_q[q]):
            lo = np.searchsorted(lat, est, "left") / lat.size
            hi = np.searchsorted(lat, est, "right") / lat.size
            err = 0.0 if lo <= q <= hi else min(abs(lo - q), abs(hi - q))
            assert err <= max(8 * q * (1 - q) / 200, 1e-3, 1 / lat.size), (q, est)


def test_default_conf_bucketed_read_keeps_conversations_whole(
    spark, transcripts, tmp_path_factory, monkeypatch
):
    """A conv_id-bucketed table re-attached with register_bucketed_table
    and read through ``spark.table`` under Spark's default
    ``autoBucketedScan``. A bare mapInPandas requires no distribution,
    so Spark plans that scan unbucketed; a ``repartition(N, conv_id)``
    with N equal to the bucket count would still be dropped (at planning
    time it matches the bucketed scan's partitioning) and a conversation
    written by several tasks would then reach several tasks. The table
    has as many buckets as the single pass's own width on the plain
    layout, and every per-conversation op must return the plain
    layout's rows: on the table itself, joined to a broadcast side
    (a derived plan, sized by the conf), and with the key renamed."""
    from tgdigest_spark import api
    from tgdigest_spark.agg import _plan_facts, _single_pass_partitions
    from tgdigest_spark.api import interturn_latency_seconds
    from tgdigest_spark.sources.transcripts import (
        register_bucketed_table,
        write_transcripts_bucketed,
    )

    n = _single_pass_partitions(transcripts, ["conv_id"])
    assert n == int(spark.conf.get("spark.sql.shuffle.partitions"))
    path = str(tmp_path_factory.mktemp("bucketed_auto") / "t_auto")
    # several writer tasks: each bucket holds several files
    write_transcripts_bucketed(
        transcripts.repartition(n), "t_auto", n_buckets=n, path=path
    )
    spark.sql("DROP TABLE t_auto")
    register_bucketed_table(spark, "t_auto", path, n_buckets=n)
    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    saved = spark.conf.get(conf, None)
    spark.conf.unset(conf)

    totals = []
    real = api._tree_merge

    def spy(partials, factory, fanout):
        merged = real(partials, factory, fanout)
        totals.append(merged.count)
        return merged

    monkeypatch.setattr(api, "_tree_merge", spy)
    length = F.length("text").cast("double")
    qs = [0.5, 0.95]
    tags = F.broadcast(
        transcripts.select("conv_id").distinct().withColumn("tag", F.lit(1))
    )

    def by_key(frame, key="conv_id"):
        return sorted(frame.collect(), key=lambda r: r[key])

    try:
        df = spark.table("t_auto")
        facts = _plan_facts(df, ["conv_id"])
        # the scan alone is unbucketed, the table is bucketed
        assert (facts.bucket_width, facts.bucket_counts) == (None, {n})
        assert _single_pass_partitions(df, ["conv_id"]) != n

        for shape in (lambda t: t, lambda t: t.join(tags, "conv_id")):
            for run in (
                lambda t: api.grouped_quantiles(t, ["conv_id"], length, qs),
                lambda t: api.grouped_quantiles_kll(t, ["conv_id"], length, qs),
                lambda t: api.grouped_latency_quantiles(t, qs),
            ):
                assert by_key(run(shape(df))) == by_key(run(shape(transcripts)))
            api.latency_quantiles(shape(df), qs)
            assert totals[-1] == interturn_latency_seconds(transcripts).count()

        def renamed(t):
            return api.grouped_quantiles(
                t.withColumnRenamed("conv_id", "c"),
                ["c"],
                length,
                qs,
                method="repartition",
            )

        assert by_key(renamed(df), "c") == by_key(renamed(transcripts), "c")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_auto")
        if saved is not None:
            spark.conf.set(conf, saved)

"""Per-group quantiles read straight from sorted group segments.

The single pass of ``agg.sketch_by_key`` and the latency ops answer
quantile queries from the sorted values they already hold
(``quantile_sorted_groups_like``) instead of serializing every group's
sketch and parsing it back. These tests pin that the shortcut changes
nothing: the hook equals the blob path bit for bit, and the in-kernel
lag equals the Window's ``interturn_latency_seconds``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tgdigest_spark.sketches.kll import KLL
from tgdigest_spark.sketches.tdigest import TDigest

QS = [0.0, 0.01, 0.5, 0.95, 0.99, 1.0, float("nan")]


def _segments(rng, sizes, tied: bool):
    parts, starts, ends, off = [], [], [], 0
    for n in sizes:
        x = rng.integers(0, 5, n).astype(np.float64) if tied else rng.lognormal(3, 1, n)
        parts.append(np.sort(x))
        starts.append(off)
        off += n
        ends.append(off)
    return np.concatenate(parts), np.array(starts), np.array(ends)


@pytest.mark.parametrize("proto", [TDigest(200), KLL(200)], ids=["tdigest", "kll"])
@pytest.mark.parametrize("tied", [False, True], ids=["distinct", "tied"])
def test_hook_equals_blob_path(proto, tied):
    """Sizes 1-600 cross delta/2 = k = 100..200; empty segments stand for
    all-null groups; NaN q must answer what quantile_blobs answers."""
    rng = np.random.default_rng(14)
    sizes = list(range(1, 601)) + [0, 0, 100, 101, 200, 201]
    rng.shuffle(sizes)
    values, starts, ends = _segments(rng, sizes, tied)
    got = proto.quantile_sorted_groups_like(values, starts, ends, QS)
    blobs = proto.serialize_sorted_groups_like(values, starts, ends)
    want = type(proto).quantile_blobs(blobs, QS)
    assert got.shape == (len(sizes), len(QS))
    assert np.array_equal(got, want, equal_nan=True)
    assert np.isnan(got[np.asarray(sizes) == 0]).all()


@pytest.mark.parametrize("proto", [TDigest(200), KLL(200)], ids=["tdigest", "kll"])
def test_hook_with_no_live_group(proto):
    got = proto.quantile_sorted_groups_like(np.empty(0), [0, 0], [0, 0], [0.5])
    assert got.shape == (2, 1) and np.isnan(got).all()


# ---------------------------------------------------------------------------
# the latency kernel vs the Window reference
# ---------------------------------------------------------------------------

LAT_QS = [0.01, 0.5, 0.95, 0.99]


@pytest.fixture(scope="module")
def odd_transcripts_path(tmp_path_factory):
    """Conversations of 1-400 turns, one of them long enough for a
    from_sorted digest; null ts, one null turn_idx per conversation,
    a null conv_id group, tied latencies; ts written by pandas, so
    Spark reads it as TIMESTAMP_NTZ."""
    rng = np.random.default_rng(7)
    rows = []
    base = pd.Timestamp("2024-03-10 01:00:00")  # a US DST switch
    for c in range(300):
        n = {0: 400, 1: 6}.get(c) or int(rng.integers(1, 9))
        gaps = rng.choice([1, 1, 2, 30, 600], n) * 1_000_000 + rng.integers(0, 999, n)
        us = np.cumsum(gaps)
        conv = None if c == 1 else f"c{c:04d}"
        for t in range(n):
            rows.append((conv, t, base + pd.Timedelta(int(us[t]), "us")))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("Int64")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.loc[rng.random(len(pdf)) < 0.03, "ts"] = pd.NaT
    firsts = pdf.groupby("conv_id", dropna=False).head(1).index
    pdf.loc[firsts[::5], "turn_idx"] = pd.NA
    pdf = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
    path = str(tmp_path_factory.mktemp("odd") / "odd.parquet")
    pdf.to_parquet(path, index=False, row_group_size=500)
    return path


def _by_conv(rows):
    return sorted(rows, key=lambda r: (r["conv_id"] is None, r["conv_id"] or ""))


def _rank_error(sorted_vals, est, q):
    lo = np.searchsorted(sorted_vals, est, side="left") / sorted_vals.size
    hi = np.searchsorted(sorted_vals, est, side="right") / sorted_vals.size
    return 0.0 if lo <= q <= hi else min(abs(lo - q), abs(hi - q))


@pytest.mark.parametrize(
    "aqe,partitions,ts_type",
    [
        ("false", "8", "timestamp_ntz"),
        ("true", "1", "timestamp_ntz"),
        ("true", "200", "timestamp"),
    ],
)
def test_latency_kernel_matches_window(
    spark, odd_transcripts_path, aqe, partitions, ts_type
):
    from tgdigest_spark.agg import sketch_quantiles_by_key
    from tgdigest_spark.api import (
        grouped_latency_quantiles,
        interturn_latency_seconds,
        latency_quantiles,
    )

    confs = {
        "spark.sql.adaptive.enabled": aqe,
        "spark.sql.shuffle.partitions": partitions,
        "spark.sql.session.timeZone": "America/Los_Angeles",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(odd_transcripts_path)
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        if ts_type == "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        lat = interturn_latency_seconds(df)
        got = _by_conv(grouped_latency_quantiles(df, LAT_QS).collect())
        ref = _by_conv(
            sketch_quantiles_by_key(
                lat, ["conv_id"], "latency_s", lambda: TDigest(200), LAT_QS,
                method="combine",
            ).collect()
        )
        exact = np.sort(
            np.array([r["latency_s"] for r in lat.collect()], dtype=np.float64)
        )
        glob = latency_quantiles(df, LAT_QS)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert got == ref
    assert any(r["conv_id"] is None for r in got)
    assert len(got) < 300  # single-turn conversations have no latency
    for q in LAT_QS:
        bound = max(8.0 * q * (1 - q) / 200, 1e-3, 1.0 / exact.size)
        assert _rank_error(exact, glob[q], q) <= bound, (q, glob[q])


def _final_plan_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return re.findall(r"(?m)^[\s+\-:|]*(?:\*\(\d+\) )?(\w+)", plan.toString())


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_latency_ops_plan_no_window_or_sort(spark, transcripts, aqe, monkeypatch):
    """One Exchange and one Python node, no Window and no Sort, for the
    grouped op and for the partials the global op tree-merges."""
    from tgdigest_spark import api

    seen = []
    real = api._tree_merge

    def spy(partials, factory, fanout):
        seen.append(partials)
        return real(partials, factory, fanout)

    monkeypatch.setattr(api, "_tree_merge", spy)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        grouped = api.grouped_latency_quantiles(transcripts)
        grouped.collect()
        api.latency_quantiles(transcripts)
        plans = [_final_plan_nodes(grouped), _final_plan_nodes(seen[0])]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    for nodes in plans:
        assert nodes.count("Exchange") == 1, nodes
        assert nodes.count("MapInPandas") == 1, nodes
        assert "Window" not in nodes and "Sort" not in nodes, nodes


def test_plan_facts_looked_up_once_per_call(spark, transcripts, monkeypatch):
    """The 'auto' probe and the single-pass width share one plan walk;
    the latency ops take one too."""
    from tgdigest_spark import agg, api

    calls = []
    real = agg._plan_facts

    def counting(df, keys):
        calls.append(list(keys))
        return real(df, keys)

    monkeypatch.setattr(agg, "_plan_facts", counting)
    length = F.length("text").cast("double")
    for run in (
        lambda: api.grouped_quantiles(transcripts, ["conv_id"], length, [0.5]),
        lambda: api.grouped_quantiles(
            transcripts, ["conv_id"], length, [0.5], method="repartition"
        ),
        lambda: api.grouped_quantiles_kll(transcripts, ["role"], length, [0.5]),
        lambda: api.grouped_latency_quantiles(transcripts),
        lambda: api.latency_quantiles(transcripts),
    ):
        calls.clear()
        run()
        assert len(calls) == 1, calls


def test_single_pass_quantiles_equal_two_stage_blob_form(spark, transcripts):
    """The fused single pass answers from the sorted segments in its one
    Python node; its rows equal building blobs and extracting their
    quantiles in a second pass."""
    from tgdigest_spark.agg import (
        sketch_by_key,
        sketch_quantiles_by_key,
        with_quantiles,
    )

    length = F.length("text").cast("double")
    for factory in (lambda: TDigest(200), lambda: KLL(200)):
        direct = sketch_quantiles_by_key(
            transcripts, ["conv_id"], length, factory, [0.5, 0.95],
            method="repartition",
        )
        two_stage = with_quantiles(
            sketch_by_key(
                transcripts, ["conv_id"], length, factory, method="repartition"
            ),
            factory,
            [0.5, 0.95],
        )
        plan = direct._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1
        assert _by_conv(direct.collect()) == _by_conv(two_stage.collect())

"""The three workloads: inputs, one round of public-API calls, checks.

Each op is timed by the runner around ``call`` alone; ``check`` runs
afterwards, outside the timed region, against the exact oracle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tgdigest_spark import agg, api, datagen
from tgdigest_spark.operators import digest_api
from tgdigest_spark.plans import checkpoints
from tgdigest_spark.sketches.hll import HLL
from tgdigest_spark.sketches.tdigest import TDigest
from tgdigest_spark.sources import sketch_table, transcripts

from . import oracle

QS = [0.5, 0.95, 0.99]
GROUP_QS = [0.5, 0.95]
N_POSTS = 300_000
SAMPLED_GROUPS = 1000
REFRESH_DAYS = 5
COMPACT_EVERY = 4
WINDOWS_PER_ROUND = 3
WINDOW_DAYS = 28
PERIOD_DAYS = 30


@dataclass
class Op:
    name: str
    kind: str  # "read", "write" or "maintenance" (timed in no metric)
    rows: int  # fact rows the op consumes (reads) or ingests (writes)
    call: Callable[[], Any]
    check: Callable[[Any], bool]


@dataclass
class Inputs:
    sf: float
    seed: int
    transcripts: str
    posts: str | None


def stage_inputs(cache_dir: str, sf: float, seed: int, posts: bool) -> Inputs:
    """Generated input files, cached per (sf, seed)."""
    n_posts = max(3000, int(N_POSTS * sf / 0.1))
    return Inputs(
        sf,
        seed,
        datagen.write_transcripts(cache_dir, sf, seed),
        datagen.write_posts(cache_dir, n_posts, seed) if posts else None,
    )


def load_truth(spark, inputs: Inputs, cache_dir: str) -> oracle.Truth:
    """Exact per-row columns, collected with plain Spark expressions and
    cached beside the inputs."""
    path = os.path.join(cache_dir, f"truth_sf{inputs.sf}_seed{inputs.seed}.parquet")
    if not os.path.exists(path):
        rows = (
            spark.read.parquet(inputs.transcripts)
            .select(
                "conv_id",
                "turn_idx",
                "role",
                F.length("text").alias("len"),
                "tool",
                F.to_date("ts").cast("string").alias("day"),
                F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            )
            .toPandas()
        )
        rows.to_parquet(path + ".tmp", index=False)
        os.replace(path + ".tmp", path)
    posts = pd.read_parquet(inputs.posts) if inputs.posts else None
    return oracle.Truth(pd.read_parquet(path), posts)


def _check_quantiles(checker, op, sorted_vals, qs, ests, bound) -> bool:
    ok = True
    for q, e in zip(qs, ests):
        ok &= checker.rank(op, sorted_vals, e, q, bound(q))
    return ok


class FactScan:
    """Global and few-group sketches over the whole fact table."""

    def __init__(self, spark, inputs, truth, checker, rng, work_dir):
        self.truth, self.checker = truth, checker
        self.df = spark.read.parquet(inputs.transcripts)
        self.by_role = truth.lengths_by("role")
        self.must, self.may = truth.top_tools()
        self.distinct = truth.distinct_convs()

    def stage(self):
        pass

    def round(self, i: int) -> list[Op]:
        df, ck, t, n = self.df, self.checker, self.truth, self.truth.n
        tdb = oracle.tdigest_bound

        def check_roles(rows):
            got = {r["role"]: [r[f"p{int(q * 100)}"] for q in QS] for r in rows}
            ok = set(got) == set(self.by_role)
            ck.ratio("api.grouped_quantiles_by_role", 0.0 if ok else 2.0)
            for role, vals in self.by_role.items():
                if role in got:
                    ok &= _check_quantiles(
                        ck, "api.grouped_quantiles_by_role", vals, QS, got[role], tdb
                    )
            return ok

        def check_hh(rows):
            items = {r["item"] for r in rows}
            ok = len(items) == oracle.TOP_K and self.must <= items <= self.may
            return ck.ratio("api.heavy_hitters", 0.0 if ok else 2.0)

        return [
            Op(
                "api.text_length_quantiles", "read", n,
                lambda: api.text_length_quantiles(df, QS),
                lambda a: _check_quantiles(
                    ck, "api.text_length_quantiles", t.lengths, QS,
                    [a[q] for q in QS], tdb,
                ),
            ),
            Op(
                "api.latency_quantiles", "read", n,
                lambda: api.latency_quantiles(df, QS),
                lambda a: _check_quantiles(
                    ck, "api.latency_quantiles", t.latencies, QS,
                    [a[q] for q in QS], tdb,
                ),
            ),
            Op(
                "api.distinct_count", "read", n,
                lambda: api.distinct_count(df, "conv_id", p=oracle.HLL_P),
                lambda a: ck.ratio(
                    "api.distinct_count",
                    abs(a - self.distinct) / self.distinct / oracle.hll_bound(),
                ),
            ),
            Op(
                "api.heavy_hitters", "read", n,
                lambda: api.heavy_hitters(df, "tool", k=oracle.TOP_K).collect(),
                check_hh,
            ),
            Op(
                "api.grouped_quantiles_by_role", "read", n,
                lambda: api.grouped_quantiles(
                    df, ["role"], F.length("text"), QS
                ).collect(),
                check_roles,
            ),
        ]


class PerConversation:
    """~10^5 tiny conv_id groups: blob shuffle, per-key merge, Arrow."""

    def __init__(self, spark, inputs, truth, checker, rng, work_dir):
        self.truth, self.checker = truth, checker
        self.df = spark.read.parquet(inputs.transcripts)
        self.len_groups = truth.sample_groups(rng, SAMPLED_GROUPS, "len")
        self.lat_groups = truth.sample_groups(rng, SAMPLED_GROUPS, "latency")

    def stage(self):
        pass

    def _check_groups(self, op, groups, bound):
        names = [f"p{int(q * 100)}" for q in GROUP_QS]

        def check(pdf):
            by_conv = pdf.set_index("conv_id")
            ok = True
            for conv, vals in groups.items():
                if conv not in by_conv.index:
                    ok &= self.checker.ratio(op, 2.0)
                    continue
                ests = by_conv.loc[conv, names].to_numpy(np.float64)
                ok &= _check_quantiles(self.checker, op, vals, GROUP_QS, ests, bound)
            return ok

        return check

    def round(self, i: int) -> list[Op]:
        df, n = self.df, self.truth.n
        length = F.length("text")
        return [
            Op(
                "api.grouped_quantiles_by_conv", "read", n,
                lambda: api.grouped_quantiles(
                    df, ["conv_id"], length, GROUP_QS
                ).toPandas(),
                self._check_groups(
                    "api.grouped_quantiles_by_conv", self.len_groups,
                    oracle.tdigest_bound,
                ),
            ),
            Op(
                "api.grouped_quantiles_kll", "read", n,
                lambda: api.grouped_quantiles_kll(
                    df, ["conv_id"], length, GROUP_QS
                ).toPandas(),
                self._check_groups(
                    "api.grouped_quantiles_kll", self.len_groups,
                    lambda q: oracle.KLL_EPS,
                ),
            ),
            Op(
                "api.grouped_latency_quantiles", "read", n,
                lambda: api.grouped_latency_quantiles(df, GROUP_QS).toPandas(),
                self._check_groups(
                    "api.grouped_latency_quantiles", self.lat_groups,
                    oracle.tdigest_bound,
                ),
            ),
        ]


def _tdigest():
    return TDigest(oracle.TDIGEST_DELTA)


def _hll():
    return HLL(oracle.HLL_P)


class LeafRollup:
    """Per-day checkpoints and (role, day) HLL leaves: writes beside reads."""

    def __init__(self, spark, inputs, truth, checker, rng, work_dir):
        self.spark, self.inputs = spark, inputs
        self.truth, self.checker = truth, checker
        self.table_dir = os.path.join(work_dir, "transcripts_table")
        self.leaf_dir = os.path.join(work_dir, "leaves")
        self.store = checkpoints.SketchCheckpointStore(
            os.path.join(work_dir, "checkpoints")
        )
        self.day_rows = truth.day_rows()
        self.days = sorted(self.day_rows)
        # refreshed days: the latest full ones (the last calendar days
        # hold only the tail of conversations that started before them)
        full = np.median(list(self.day_rows.values())) / 2
        self.refresh_days = [d for d in self.days if self.day_rows[d] >= full][-REFRESH_DAYS:]
        self.n_keys = len(truth.rows[["role", "day"]].drop_duplicates())
        # fixed-length windows and periods at seeded starts: every read
        # op of a kind does the same amount of work on every seed
        starts = rng.integers(0, len(self.days) - WINDOW_DAYS, size=8)
        self.windows = [(self.days[a], self.days[a + WINDOW_DAYS - 1]) for a in starts]
        self.window_truth = {
            w: (truth.window_lengths(*w), truth.window_distinct_by_role(*w))
            for w in self.windows
        }
        channels = sorted(truth.posts["channel"].unique())
        d0 = truth.posts["date"].min().normalize()
        span = (truth.posts["date"].max().normalize() - d0).days
        self.periods = []
        for _ in range(4):
            start = d0 + pd.Timedelta(days=int(rng.integers(0, span - PERIOD_DAYS)))
            end = start + pd.Timedelta(days=PERIOD_DAYS)
            task = digest_api.Task(
                channel_name=str(rng.choice(channels)),
                top_count=3,
                from_date=int(start.timestamp()),
                to_date=int(end.timestamp()),
            )
            self.periods.append(
                (task, truth.digest(task.channel_name, task.from_date, task.to_date, 3))
            )
        self.posts = spark.read.parquet(inputs.posts)

    def leaves(self, df):
        return agg.sketch_by_key(
            df.withColumn("day", F.col("ts_day").cast("string")),
            ["role", "day"],
            "conv_id",
            _hll,
        )

    def stage(self):
        """The leaf store: day-partitioned facts, per-day t-digest
        checkpoints of text length, (role, day) HLL-of-conv_id leaves."""
        transcripts.write_transcripts_table(
            self.spark.read.parquet(self.inputs.transcripts), self.table_dir
        )
        self.table = transcripts.read_transcripts(self.spark, self.table_dir)
        self.build_checkpoints()
        sketch_table.write_sketch_table(
            self.leaves(self.table), self.leaf_dir, "hll", {"p": oracle.HLL_P}
        )

    def build_checkpoints(self, refresh=None):
        return checkpoints.build_checkpointed(
            self.table, F.col("ts_day"), F.length("text"), _tdigest,
            self.store, refresh=refresh,
        )

    def append_leaves(self, day: str):
        day_df = self.table.where(F.col("ts_day") == F.lit(date.fromisoformat(day)))
        return sketch_table.write_sketch_table(
            self.leaves(day_df), self.leaf_dir, "hll", {"p": oracle.HLL_P},
            mode="append",
        )

    def rollup(self, lo: str, hi: str) -> dict:
        blobs, _ = sketch_table.read_sketch_table(
            self.spark, self.leaf_dir, "hll", {"p": oracle.HLL_P}
        )
        blobs = blobs.where((F.col("day") >= lo) & (F.col("day") <= hi))
        rows = agg.merge_blobs_by_key(blobs, ["role"], _hll).collect()
        return {r["role"]: HLL.deserialize(bytes(r["sketch"])).estimate() for r in rows}

    def compact(self):
        return sketch_table.compact_sketch_table(self.spark, self.leaf_dir, _hll)

    def window_quantiles(self, lo: str, hi: str):
        return checkpoints.window_quantiles(self.store, _tdigest, QS, lo, hi)

    def round(self, i: int) -> list[Op]:
        ck = self.checker
        day = self.refresh_days[-1 - (i % REFRESH_DAYS)]
        rows = int(self.day_rows[day])
        ops = [
            Op(
                "plans.build_checkpointed", "write", rows,
                lambda: self.build_checkpoints(refresh={day}),
                lambda m: ck.exact(
                    "plans.build_checkpointed", m["partitions"][day]["rows"], rows
                ),
            ),
            Op(
                "sources.write_sketch_table", "write", rows,
                lambda: self.append_leaves(day),
                lambda m: ck.exact("sources.write_sketch_table", m["keys"], ["role", "day"]),
            ),
        ]
        if i % COMPACT_EVERY == COMPACT_EVERY - 1:
            ops.append(
                Op(
                    "sources.compact_sketch_table", "maintenance", 0,
                    self.compact,
                    lambda r: ck.exact(
                        "sources.compact_sketch_table", r["rows_after"], self.n_keys
                    ),
                )
            )
        for j in range(WINDOWS_PER_ROUND):
            w = self.windows[(i * WINDOWS_PER_ROUND + j) % len(self.windows)]
            vals = self.window_truth[w][0]
            ops.append(
                Op(
                    "plans.window_quantiles", "read", len(vals),
                    lambda w=w: self.window_quantiles(*w),
                    lambda a, vals=vals: _check_quantiles(
                        ck, "plans.window_quantiles", vals, QS, a,
                        oracle.tdigest_bound,
                    ),
                )
            )
        w = self.windows[i % len(self.windows)]
        vals, distinct = self.window_truth[w]

        def check_rollup(got):
            ok = ck.exact("leaf.keyed_rollup", set(got), set(distinct))
            for role, exact in distinct.items():
                if role in got:
                    err = abs(got[role] - exact) / exact
                    ok &= ck.ratio("leaf.keyed_rollup", err / oracle.hll_bound())
            return ok

        ops.append(
            Op("leaf.keyed_rollup", "read", len(vals), lambda: self.rollup(*w), check_rollup)
        )
        task, want = self.periods[i % len(self.periods)]
        ops.append(
            Op(
                "operators.run_digest", "read", len(self.truth.posts),
                lambda: digest_api.run_digest(self.posts, task),
                lambda r: ck.exact(
                    "operators.run_digest",
                    oracle.digest_answer(r, digest_api.BLOCK_SPEC),
                    want,
                ),
            )
        )
        return ops


WORKLOADS = {
    "fact_scan": FactScan,
    "per_conversation": PerConversation,
    "leaf_rollup": LeafRollup,
}

"""Exact answers and published error bounds for every benchmarked op.

The exact columns are collected once per input with plain Spark
expressions (no library code) and evaluated here with numpy and pandas.
The digest oracle is an independent pandas implementation of the
reference semantics: closed date range, (channel, id) dedup, first post
per album, top-k per metric with nulls last and ties by id.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

TDIGEST_DELTA = 200
KLL_EPS = 0.013
HLL_P = 14
TOP_K = 10
DIGEST_METRICS = ("replies", "reactions", "forwards", "views")


def tdigest_bound(q: float, delta: int = TDIGEST_DELTA) -> float:
    return max(8.0 * q * (1.0 - q) / delta, 1e-3)


def hll_bound(p: int = HLL_P) -> float:
    return 3.0 * 1.04 / math.sqrt(2**p)


def rank_error(sorted_vals: np.ndarray, est: float, q: float) -> float:
    """Distance from ``q`` to the ranks ``est`` can hold in the data.

    A data value holds every rank from F(v-) to F(v). An estimate strictly
    between two adjacent data values holds the ranks between the
    neighbours' mid-ranks: that is where a piecewise-linear quantile
    estimator (t-digest over unit centroids) places it, and on a group
    of a few values it is the only place it can.
    """
    n = len(sorted_vals)
    if n == 0 or not np.isfinite(est):
        return math.inf
    lo_n = int(np.searchsorted(sorted_vals, est, side="left"))
    hi_n = int(np.searchsorted(sorted_vals, est, side="right"))
    lo, hi = lo_n / n, hi_n / n
    if lo_n == hi_n and 0 < lo_n < n:
        lo, hi = (lo_n - 0.5) / n, (lo_n + 0.5) / n
    if lo <= q <= hi:
        return 0.0
    return min(abs(lo - q), abs(hi - q))


class Checker:
    """Collects (error / bound) ratios per op; a ratio above 1 is a miss."""

    def __init__(self):
        self.worst: dict[str, float] = {}
        self.misses: dict[str, int] = {}

    def ratio(self, op: str, ratio: float) -> bool:
        self.worst[op] = max(self.worst.get(op, 0.0), float(ratio))
        ok = ratio <= 1.0 + 1e-9
        if not ok:
            self.misses[op] = self.misses.get(op, 0) + 1
        return ok

    def rank(self, op: str, sorted_vals, est, q, bound) -> bool:
        """Rank-error check; a bound finer than one rank of the data is
        rounded up to one rank (the published bounds are asymptotic:
        a t-digest of 245 latencies may be off by 0.75 of a rank at q =
        0.95, where 8q(1-q)/200 allows 0.47)."""
        bound = max(bound, 1.0 / len(sorted_vals))
        return self.ratio(op, rank_error(sorted_vals, float(est), q) / bound)

    def exact(self, op: str, got, want) -> bool:
        """Exact-match answers: ratio 0 when equal, 2 when not."""
        return self.ratio(op, 0.0 if got == want else 2.0)


class Truth:
    """Exact per-row columns of the transcripts input plus the posts."""

    def __init__(self, rows: pd.DataFrame, posts: pd.DataFrame | None):
        # rows: conv_id, turn_idx, role, len, tool, day (ISO string), ts_us
        rows = rows.sort_values(["conv_id", "turn_idx"], kind="stable")
        self.rows = rows.reset_index(drop=True)
        self.n = len(rows)
        self.posts = posts
        ts = self.rows["ts_us"].to_numpy(np.int64)
        same = self.rows["conv_id"].to_numpy()
        follows = np.r_[False, same[1:] == same[:-1]]
        lat = np.full(self.n, np.nan)
        lat[1:] = (ts[1:] - ts[:-1]) / 1e6
        lat[~follows] = np.nan
        self.rows["latency"] = lat
        self.lengths = np.sort(self.rows["len"].to_numpy(np.float64))
        self.latencies = np.sort(lat[~np.isnan(lat)])

    # -- fact answers ---------------------------------------------------
    def distinct_convs(self) -> int:
        return int(self.rows["conv_id"].nunique())

    def top_tools(self) -> tuple[set, set]:
        """(items that must be in the top-k, items that may be in it)."""
        vc = self.rows["tool"].dropna().value_counts()
        kth = int(vc.iloc[min(TOP_K, len(vc)) - 1])
        return set(vc[vc > kth].index), set(vc[vc >= kth].index)

    def lengths_by(self, key: str) -> dict:
        return {
            k: np.sort(g.to_numpy(np.float64))
            for k, g in self.rows.groupby(key)["len"]
        }

    def sample_groups(self, rng: np.random.Generator, n: int, value: str):
        """conv_id -> sorted values for ``n`` seeded conversations that
        have at least one ``value``."""
        col = self.rows[["conv_id", value]].dropna()
        convs = col["conv_id"].unique()
        pick = set(rng.choice(convs, size=min(n, len(convs)), replace=False))
        sub = col[col["conv_id"].isin(pick)]
        return {
            k: np.sort(g.to_numpy(np.float64))
            for k, g in sub.groupby("conv_id")[value]
        }

    # -- leaf answers -----------------------------------------------------
    def window_lengths(self, lo: str, hi: str) -> np.ndarray:
        d = self.rows["day"]
        return np.sort(
            self.rows.loc[(d >= lo) & (d <= hi), "len"].to_numpy(np.float64)
        )

    def window_distinct_by_role(self, lo: str, hi: str) -> dict:
        d = self.rows["day"]
        sub = self.rows.loc[(d >= lo) & (d <= hi)]
        return sub.groupby("role")["conv_id"].nunique().to_dict()

    def day_rows(self) -> dict:
        return self.rows["day"].value_counts().to_dict()

    def digest(self, channel: str, from_s: int, to_s: int, top: int) -> list:
        """[(metric, [(id, count), ...]), ...] in the reference's block
        order, empty blocks dropped, null counts never carded."""
        p = self.posts
        p = p[p["channel"] == channel].drop_duplicates(["channel", "id"])
        lo = pd.Timestamp(from_s, unit="s")
        hi = pd.Timestamp(to_s, unit="s")
        p = p[(p["date"] >= lo) & (p["date"] <= hi)]
        p = p.sort_values(["date", "id"], kind="stable")
        album = p["grouped_id"]
        first = ~p.duplicated(["channel", "grouped_id"]) | album.isna()
        p = p[first.to_numpy()]
        out = []
        for m in DIGEST_METRICS:
            ranked = p[["id", m]].copy()
            ranked["null"] = ranked[m].isna()
            ranked = ranked.sort_values(
                ["null", m, "id"], ascending=[True, False, True], kind="stable"
            ).head(top)
            cards = [
                (int(i), int(c))
                for i, c in zip(ranked["id"], ranked[m])
                if not pd.isna(c)
            ]
            if cards:
                out.append((m, cards))
        return out


def digest_answer(result: dict, block_spec) -> list:
    """The library's digest in :meth:`Truth.digest`'s shape;
    ``block_spec`` maps block headers back to metrics."""
    header_metric = {header: metric for metric, header, *_ in block_spec}
    return [
        (header_metric[b["header"]], [(c["id"], c["count"]) for c in b["cards"]])
        for b in result["blocks"]
    ]

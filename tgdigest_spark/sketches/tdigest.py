"""Merging t-digest with scale-function-bounded centroids (from scratch).

Algorithm: Dunning & Ertl, "Computing Extremely Accurate Quantiles Using
t-Digests" (2019) — the *merging* variant. Centroid sizes are bounded by
the k1 scale function

    k1(q) = (delta / (2*pi)) * asin(2q - 1)

which allocates centroid capacity ~ q(1-q), giving relative rank error
<= q(1-q) * c / delta at the tails (the bound BASELINE.json requires).

Implementation notes (all vectorized, no per-value Python):

* ``update`` sorts the incoming batch (numpy), concatenates with the
  existing centroids via mergesort, and re-clusters.
* Re-clustering quantizes cumulative weight midpoints onto the integer
  grid of k1-space (``np.searchsorted`` against precomputed q-boundaries,
  ``np.add.reduceat`` for weighted means). Boundaries depend only on
  (delta, total weight), so merging is associative up to the published
  bound — deep and shallow merge trees land within bound of each other
  (property-tested in tests/test_tdigest.py).
* Exact min/max are kept for tail interpolation.
* One-pass builds of a sorted group (``from_sorted``, the per-key hot
  path) keep groups of at most delta/2 values exact, and above that
  split each k1 run into chunks of at most
  max(1, floor(2 * n * max(8q(1-q)/delta, 1e-3))) values — twice the
  rank error the digest publishes at q. Without the cap a group of a
  few hundred values puts q = 0.95 inside a k1 centroid of ~0.007n
  unevenly spaced values, and interpolation lands up to 1.5 ranks
  away where max(bound, one rank) is allowed. The cap only binds in
  the tails and only for such groups: it costs 112-164 centroids
  where the bare grid keeps 86-100. Merges and ``update`` keep the
  plain k1 grid (``_recluster``).

Reference anchor: the exact path this approximates is tgdigest's full
sort over fetched rows (/root/reference/src/post.rs:76-90); oracle tests
compare against exact percentiles on the same rows.
"""

from __future__ import annotations

import struct

import numpy as np

from .base import Sketch, clean_numeric, copy_segments

_TWO_PI = 2.0 * np.pi

#: delta → precomputed k1-grid fences (read-only arrays)
_FENCE_CACHE: dict[int, np.ndarray] = {}


def _chunk_cap(q: np.ndarray, n: int, delta: int) -> np.ndarray:
    """Most values one ``from_sorted`` centroid may hold at quantile q:
    twice the rank error the digest publishes there, in ranks
    (max(8q(1-q)/delta, 1e-3) · n), and never below one value."""
    bound = np.maximum(8.0 * q * (1.0 - q) / delta, 1e-3)
    return np.maximum(1, np.floor(2.0 * n * bound)).astype(np.int64)


def _clip_qs(qs) -> np.ndarray:
    return np.clip(np.atleast_1d(np.asarray(qs, dtype=np.float64)), 0, 1)


def _interp_segments(m, w, ns, mins, maxs, counts, qs_arr) -> np.ndarray:
    """(len(ns), len(qs_arr)) estimates for consecutive digests whose
    centroids are packed in ``m``/``w`` (``ns[i] > 0`` centroids each,
    ``counts[i] > 0``): the piecewise-linear interpolation of
    ``TDigest.quantile`` for ALL digests as a single searchsorted over a
    (2*segment_id + normalized-rank) key (ranks normalized to [0,1] make
    the key strictly increasing across segments). ``qs_arr`` comes
    clipped to [0, 1] (:func:`_clip_qs`).

    The interpolation itself runs in RAW rank space with np.interp's
    slope-form float ops, so for the same node pair the result is
    bit-identical to quantile(). Node SELECTION goes through the packed
    normalized key, whose rounding can pick the neighboring node only
    when q collides with a node rank within ~one ulp."""
    nq = qs_arr.size
    nseg = ns.size
    seg_of = np.repeat(np.arange(nseg), ns)
    ends = np.cumsum(ns)
    starts = ends - ns
    cs = np.cumsum(w)
    cs_before = np.concatenate(([0.0], cs[ends[:-1] - 1]))
    # centroid mid-ranks: raw within-segment (the space quantile()
    # interpolates in), plus a [0, 1]-normalized copy used ONLY to
    # build the strictly-increasing cross-segment search key
    rank_raw = cs - cs_before[seg_of] - 0.5 * w
    rank_norm = rank_raw / counts[seg_of]

    k = ns + 2  # nodes: min + centroids + max
    node_ends = np.cumsum(k) - 1
    node_starts = node_ends - k + 1
    total = int(node_ends[-1]) + 1
    rr = np.empty(total)
    rr_raw = np.empty(total)
    vv = np.empty(total)
    rr[node_starts] = 0.0
    rr[node_ends] = 1.0
    rr_raw[node_starts] = 0.0
    rr_raw[node_ends] = counts
    vv[node_starts] = mins
    vv[node_ends] = maxs
    pos = node_starts[seg_of] + 1 + (np.arange(m.size) - starts[seg_of])
    rr[pos] = rank_norm
    rr_raw[pos] = rank_raw
    vv[pos] = m

    rkey = 2.0 * np.repeat(np.arange(nseg), k) + rr
    tkey = (
        2.0 * np.arange(nseg)[:, None] + qs_arr[None, :]
    ).ravel()  # (nseg*nq,)
    idx = np.searchsorted(rkey, tkey, side="right")
    seg_rep = np.repeat(np.arange(nseg), nq)
    lo = np.clip(idx - 1, node_starts[seg_rep], node_ends[seg_rep] - 1)
    hi = lo + 1
    # interpolate in RAW rank space with np.interp's slope-form
    # arithmetic — elementwise bit-identical to quantile()'s
    # np.interp(q*count, ranks, vals) for the same node pair
    cnt_rep = counts[seg_rep]
    t_raw = np.tile(qs_arr, nseg) * cnt_rep
    denom = rr_raw[hi] - rr_raw[lo]
    slope = (vv[hi] - vv[lo]) / np.where(denom > 0, denom, 1.0)
    est = vv[lo] + slope * (t_raw - rr_raw[lo])
    # np.interp clamps to the end values at/beyond the extremes
    est = np.where(t_raw >= cnt_rep, maxs[seg_rep], est)
    est = np.where(t_raw <= 0.0, mins[seg_rep], est)
    est = est.reshape(nseg, nq)
    # parity with quantile(): a single-centroid digest answers its
    # mean for every q (no interpolation toward min/max)
    single = np.flatnonzero(ns == 1)
    if single.size:
        est[single, :] = m[starts[single], None]
    return est


class TDigest(Sketch):
    MAGIC = b"TDG1"

    def __init__(self, delta: int = 200):
        if delta < 10:
            raise ValueError("delta too small")
        self.delta = int(delta)
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self.min = np.inf
        self.max = -np.inf
        self.count = 0.0

    # -- scale function ------------------------------------------------
    def _q_boundaries(self) -> np.ndarray:
        """q values at integer steps of k1-space: the cluster fences.

        k1 spans [-delta/4, +delta/4] over q in [0,1] → delta/2 clusters,
        each of weight <= W * (q(k+1) - q(k)) ~ 4W*sqrt(q(1-q))/delta.

        Cached per delta (they depend on nothing else): re-deriving the
        sin grid per recluster dominated million-tiny-group builds.
        """
        fences = _FENCE_CACHE.get(self.delta)
        if fences is None:
            kmin, kmax = -self.delta / 4.0, self.delta / 4.0
            ks = np.arange(np.ceil(kmin), np.floor(kmax) + 1.0)
            qs = (np.sin(ks * _TWO_PI / self.delta) + 1.0) / 2.0
            fences = qs[(qs > 0.0) & (qs < 1.0)]
            fences.setflags(write=False)
            _FENCE_CACHE[self.delta] = fences
        return fences

    # -- core clustering ------------------------------------------------
    def _recluster(self, means: np.ndarray, weights: np.ndarray) -> None:
        """Given mean-sorted centroid arrays, quantize onto the k1 grid."""
        w_total = float(weights.sum())
        if w_total == 0.0:
            self.means = np.empty(0)
            self.weights = np.empty(0)
            self.count = 0.0
            return
        cum = np.cumsum(weights)
        q_mid = (cum - 0.5 * weights) / w_total
        fences = self._q_boundaries()
        cluster = np.searchsorted(fences, q_mid, side="right")
        # boundaries of runs of equal cluster id
        starts = np.flatnonzero(np.r_[True, cluster[1:] != cluster[:-1]])
        w_sum = np.add.reduceat(weights, starts)
        m_sum = np.add.reduceat(means * weights, starts)
        self.means = m_sum / w_sum
        self.weights = w_sum
        self.count = w_total

    @classmethod
    def from_sorted(cls, arr: np.ndarray, delta: int = 200) -> "TDigest":
        """Fast path for per-group builds: ``arr`` pre-sorted, no NaNs.

        Groups smaller than the centroid budget ARE their own digest
        (every value a unit-weight centroid) — skips the recluster pass
        that dominates building millions of tiny per-group sketches.

        Larger groups take the k1 grid, with each k1 run split into
        chunks of at most ``_chunk_cap`` values: on a few hundred values
        a tail centroid holds a handful of unevenly spaced points, and
        interpolating across them lands more than the published bound
        (or one rank) away at q = 0.95.
        """
        td = cls(delta)
        n = arr.size
        if n == 0:
            return td
        td.min, td.max = float(arr[0]), float(arr[-1])
        vals = arr.astype(np.float64, copy=True)
        td.count = float(n)
        if n <= delta // 2:
            td.means = vals
            td.weights = np.ones(n)
            return td
        idx = np.arange(n)
        q_mid = (idx + 0.5) / n
        cluster = np.searchsorted(td._q_boundaries(), q_mid, side="right")
        runs = np.flatnonzero(np.r_[True, cluster[1:] != cluster[:-1]])
        run_len = np.diff(np.r_[runs, n])
        cap = np.minimum.reduceat(_chunk_cap(q_mid, n, delta), runs)
        # position within the run // the run's cap → chunk id in the run
        chunk = (idx - np.repeat(runs, run_len)) // np.repeat(cap, run_len)
        starts = np.flatnonzero(
            np.r_[True, (cluster[1:] != cluster[:-1]) | (chunk[1:] != chunk[:-1])]
        )
        w = np.diff(np.r_[starts, n]).astype(np.float64)
        td.means = np.add.reduceat(vals, starts) / w
        td.weights = w
        return td

    def from_sorted_like(self, arr: np.ndarray) -> "TDigest":
        """Instance hook used by agg's bulk per-group builder."""
        return TDigest.from_sorted(arr, self.delta)

    def serialize_sorted_groups_like(self, values, starts, ends) -> list:
        """Bulk hook: blobs for consecutive sorted group segments of
        ``values``, BIT-IDENTICAL to
        ``from_sorted_like(values[s:e]).serialize()`` per group, without
        constructing len(starts) TDigest objects — small groups (the
        10^6-tiny-group hot path) are their own digest, so the blob is
        header + values + unit weights, built directly."""
        delta = self.delta
        small = delta // 2
        pack = struct.Struct("<4sHIQddd").pack
        magic, ver = self.MAGIC, self.VERSION
        ones_b: dict[int, bytes] = {}
        out = []
        for s, e in zip(starts, ends):
            n = int(e - s)
            if n == 0:  # all-null group: the empty digest's blob
                out.append(
                    pack(magic, ver, delta, 0, np.inf, -np.inf, 0.0)
                )
                continue
            if n <= small:
                seg = values[s:e]
                ob = ones_b.get(n)
                if ob is None:
                    ob = np.ones(n).tobytes()
                    ones_b[n] = ob
                out.append(
                    pack(magic, ver, delta, n, seg[0], seg[-1], float(n))
                    + seg.tobytes()
                    + ob
                )
            else:
                out.append(TDigest.from_sorted(values[s:e], delta).serialize())
        return out

    # -- protocol --------------------------------------------------------
    def update(self, values) -> "TDigest":
        arr = clean_numeric(values)
        if arr.size == 0:
            return self
        arr = np.sort(arr)
        self.min = min(self.min, float(arr[0]))
        self.max = max(self.max, float(arr[-1]))
        means = np.concatenate([self.means, arr])
        weights = np.concatenate([self.weights, np.ones(arr.size)])
        order = np.argsort(means, kind="mergesort")
        self._recluster(means[order], weights[order])
        return self

    def merge(self, other: "TDigest") -> "TDigest":
        if other.count == 0:
            return self
        if other.delta != self.delta:
            raise ValueError("delta mismatch")
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        means = np.concatenate([self.means, other.means])
        weights = np.concatenate([self.weights, other.weights])
        order = np.argsort(means, kind="mergesort")
        self._recluster(means[order], weights[order])
        return self

    # -- queries ---------------------------------------------------------
    def quantile(self, q) -> float | np.ndarray:
        """Estimate value at quantile(s) q — piecewise-linear between
        centroid means with exact min/max endpoints."""
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if self.count == 0:
            out = np.full(qs.shape, np.nan)
            return out[0] if np.isscalar(q) else out
        if self.means.size == 1:
            out = np.full(qs.shape, self.means[0])
            return float(out[0]) if np.isscalar(q) else out
        w = self.weights
        cum_mid = np.cumsum(w) - 0.5 * w  # rank of each centroid's mean
        targets = np.clip(qs, 0.0, 1.0) * self.count
        # interpolation nodes: (rank, value) = (0,min) + centroids + (count,max)
        ranks = np.concatenate([[0.0], cum_mid, [self.count]])
        vals = np.concatenate([[self.min], self.means, [self.max]])
        out = np.interp(targets, ranks, vals)
        return float(out[0]) if np.isscalar(q) else out

    def cdf(self, x) -> float | np.ndarray:
        xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        if self.count == 0:
            out = np.full(xs.shape, np.nan)
            return out[0] if np.isscalar(x) else out
        w = self.weights
        cum_mid = np.cumsum(w) - 0.5 * w
        ranks = np.concatenate([[0.0], cum_mid, [self.count]])
        vals = np.concatenate([[self.min], self.means, [self.max]])
        out = np.interp(xs, vals, ranks) / self.count
        return float(out[0]) if np.isscalar(x) else out

    @classmethod
    def quantile_blobs(cls, blobs, qs) -> np.ndarray:
        """(len(blobs), len(qs)) quantile estimates in ONE vectorized
        pass — numerically equivalent to
        ``[cls.deserialize(b).quantile(qs) for b in blobs]`` without
        constructing len(blobs) objects. The mass-extraction hot path:
        per-group quantiles over 10^6+ tiny digests spend more time in
        per-blob Python than in arithmetic; here headers are unpacked
        and the centroid arrays handed to :func:`_interp_segments`, the
        interpolation kernel :meth:`quantile_sorted_groups_like` shares,
        so reading a group's answer from its blob or from its sorted
        values is one computation.

        Parity contract vs quantile(): see :func:`_interp_segments` —
        bit-identical for the same node pair; a q colliding with a node
        rank within ~one ulp may pick the neighboring node, differing by
        at most slope * ulp(rank), the bound
        test_quantile_blobs_property_parity asserts eps-scaled."""
        p = len(blobs)
        qs_arr = _clip_qs(qs)
        out = np.full((p, qs_arr.size), np.nan)
        if p == 0:
            return out
        head = struct.Struct("<4sHIQddd")
        off0 = head.size
        ns = np.empty(p, np.int64)
        mins = np.empty(p)
        maxs = np.empty(p)
        counts = np.empty(p)
        means_parts = []
        weights_parts = []
        for i, b in enumerate(blobs):
            magic, ver, _delta, n, mn, mx, cnt = head.unpack_from(b, 0)
            if magic != cls.MAGIC or ver != cls.VERSION:
                raise ValueError("bad t-digest blob header")
            ns[i], mins[i], maxs[i], counts[i] = n, mn, mx, cnt
            means_parts.append(np.frombuffer(b, np.float64, n, off0))
            weights_parts.append(np.frombuffer(b, np.float64, n, off0 + 8 * n))

        live = np.flatnonzero((counts > 0) & (ns > 0))
        if live.size == 0:
            return out
        if live.size < p:
            means_parts = [means_parts[i] for i in live]
            weights_parts = [weights_parts[i] for i in live]
        out[live] = _interp_segments(
            np.concatenate(means_parts),
            np.concatenate(weights_parts),
            ns[live],
            mins[live],
            maxs[live],
            counts[live],
            qs_arr,
        )
        return out

    def quantile_sorted_groups_like(self, values, starts, ends, qs) -> np.ndarray:
        """(len(starts), len(qs)) estimates for consecutive sorted group
        segments of ``values``, BIT-IDENTICAL to
        ``quantile_blobs(serialize_sorted_groups_like(values, starts,
        ends), qs)`` without building a blob: a group of at most
        delta/2 values is its own digest (its values are the unit-weight
        centroids), a larger one builds through ``from_sorted``, and
        both feed the same interpolation kernel in the same group order.
        An empty group answers NaN, like the empty digest's blob."""
        values = np.asarray(values, dtype=np.float64)
        starts = np.asarray(starts, dtype=np.int64)
        ends = np.asarray(ends, dtype=np.int64)
        qs_arr = _clip_qs(qs)
        out = np.full((starts.size, qs_arr.size), np.nan)
        n = ends - starts
        live = np.flatnonzero(n > 0)
        if live.size == 0:
            return out
        s, e, nl = starts[live], ends[live], n[live]
        ns = nl.copy()  # centroids per group
        big = np.flatnonzero(nl > self.delta // 2)
        digests = [TDigest.from_sorted(values[s[i] : e[i]], self.delta) for i in big]
        ns[big] = [td.means.size for td in digests]
        offs = np.cumsum(ns) - ns
        m = np.empty(int(ns.sum()))
        w = np.ones(m.size)
        small = np.flatnonzero(nl <= self.delta // 2)
        copy_segments(values, s[small], nl[small], m, offs[small])
        for i, td in zip(big, digests):
            m[offs[i] : offs[i] + ns[i]] = td.means
            w[offs[i] : offs[i] + ns[i]] = td.weights
        out[live] = _interp_segments(
            m, w, ns, values[s], values[e - 1], nl.astype(np.float64), qs_arr
        )
        return out

    def merge_blob_groups_like(self, blobs, starts, ends) -> list:
        """Reducer bulk hook: merge each contiguous group of partial
        blobs into one blob. Groups whose partials are ALL unit-weight
        (the tiny-group map-side construction) fast-lane through one
        concat + lexsort + bulk serialization across every such group —
        no per-group digest objects. A tiny merged group (n <= delta/2)
        stays EXACT, identically to a co-located map-side build, which
        also makes the result independent of how the scan happened to
        split the group; a large one pays a single recluster (one merge
        tree level — within the published bound, like any merge order).
        Groups containing reclustered (weighted) partials take the
        sequential deserialize/merge path."""
        from .base import merge_blob_groups_bulk

        head = struct.Struct("<4sHIQddd")
        off0 = head.size

        def extract_unit(b):
            # eligible iff every centroid is unit-weight (count == n
            # and weights all 1.0): the means ARE the raw values
            _m, _v, _d, n, _mn, _mx, cnt = head.unpack_from(b, 0)
            if cnt != n:
                return None
            w = np.frombuffer(b, np.float64, n, off0 + 8 * n)
            if not (w == 1.0).all():
                return None
            return np.frombuffer(b, np.float64, n, off0)

        return merge_blob_groups_bulk(self, blobs, starts, ends, extract_unit)

    # -- serialization ----------------------------------------------------
    def serialize(self) -> bytes:
        head = struct.pack(
            "<4sHIQ ddd".replace(" ", ""),
            self.MAGIC,
            self.VERSION,
            self.delta,
            self.means.size,
            self.min,
            self.max,
            self.count,
        )
        return head + self.means.tobytes() + self.weights.tobytes()

    @classmethod
    def deserialize(cls, data: bytes) -> "TDigest":
        (delta, n, mn, mx, count), off = cls._check_header(data, "IQddd")
        td = cls(delta)
        td.min, td.max, td.count = mn, mx, count
        td.means = np.frombuffer(data, dtype=np.float64, count=n, offset=off).copy()
        td.weights = np.frombuffer(
            data, dtype=np.float64, count=n, offset=off + 8 * n
        ).copy()
        return td

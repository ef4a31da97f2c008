"""KLL quantile sketch (Karnin, Lang, Liberty 2016), from scratch.

Rank-error flavor complementing the t-digest: additive eps rank error
with space O((1/eps) sqrt(log 1/delta)). Practical layout follows the
paper's compactor hierarchy: level i holds items of weight 2^i; level
capacities shrink geometrically (c = 2/3) from k at the top; a full
level sorts itself and promotes every other item to the next level.

Determinism: compaction offset alternates 0/1 per level (instead of a
coin flip) → identical inputs give identical sketches, and merge order
affects estimates only within the error bound (property-tested).

Quantile query: inclusive-rank select over the weighted union of all
levels (smallest value whose cumulative weight >= q*n) — matching the
reference's exact full-sort rank semantics
(/root/reference/src/post.rs:76-80).
"""

from __future__ import annotations

import struct

import numpy as np

from .base import Sketch, clean_numeric, copy_segments

_C = 2.0 / 3.0
_MIN_CAP = 8


def _select_segments(v_s, w_s, sizes, totals, mins, maxs, qs_arr) -> np.ndarray:
    """(len(sizes), len(qs_arr)) inclusive-rank selects over consecutive
    sketches whose weighted items are packed in ``v_s``/``w_s``, sorted
    by value within each sketch (``sizes[i] > 0`` items of int64
    weights summing to ``totals[i]``).

    Exact parity trick: KLL item weights are powers of two, so
    per-sketch cumulative weights are exact int64. The per-sketch
    inclusive-rank select ``first cum >= q*n`` over integer cums is
    equivalent to ``first cum >= ceil(q*n)``, an INTEGER threshold — so
    all segments share one int64 key space (per-segment cums offset by a
    running base) and a single searchsorted answers every (sketch, q)
    with no floating-point drift."""
    nseg = sizes.size
    seg_of = np.repeat(np.arange(nseg), sizes)
    ends = np.cumsum(sizes)
    cs = np.cumsum(w_s)
    cs_before = np.concatenate(([np.int64(0)], cs[ends[:-1] - 1]))
    cum = cs - cs_before[seg_of]  # per-segment cum, exact int64
    base = np.concatenate(([np.int64(0)], np.cumsum(totals)[:-1]))
    keys = base[seg_of] + cum  # strictly increasing across segments

    targets = np.clip(qs_arr, 0.0, 1.0)[None, :] * totals[:, None].astype(
        np.float64
    )
    # NaN q: per-sketch clip(NaN)->NaN target makes searchsorted land
    # past the end, i.e. the segment's LARGEST item — mirror that
    # (ceil/int64-cast on NaN would otherwise emit INT64_MIN junk).
    nan_q = np.isnan(qs_arr)
    targets = np.where(nan_q[None, :], 1.0, targets)
    t_int = np.maximum(np.ceil(targets), 1.0).astype(np.int64)
    t_int = np.minimum(t_int, totals[:, None])  # stay inside segment
    tkeys = (base[:, None] + t_int).ravel()
    idx = np.searchsorted(keys, tkeys, side="left")
    est = v_s[idx].reshape(nseg, qs_arr.size)
    if nan_q.any():
        est[:, nan_q] = v_s[ends - 1][:, None]
    est = np.where(qs_arr[None, :] <= 0.0, mins[:, None], est)
    return np.where(qs_arr[None, :] >= 1.0, maxs[:, None], est)


class KLL(Sketch):
    MAGIC = b"KLL1"

    def __init__(self, k: int = 200):
        if k < 8:
            raise ValueError("k too small")
        self.k = int(k)
        self.levels: list[np.ndarray] = [np.empty(0)]
        self.n = 0
        self.min = np.inf
        self.max = -np.inf
        self._flip = 0

    @property
    def count(self) -> float:
        """Protocol-uniform row count (TDigest exposes .count; generic
        consumers like streaming/stateful.py rely on it)."""
        return float(self.n)

    # -- capacities -----------------------------------------------------
    def _cap(self, level: int) -> int:
        depth = len(self.levels)
        return max(_MIN_CAP, int(np.ceil(self.k * _C ** (depth - 1 - level))))

    def _total_cap(self) -> int:
        return sum(self._cap(i) for i in range(len(self.levels)))

    def _size(self) -> int:
        return sum(a.size for a in self.levels)

    # -- compaction -----------------------------------------------------
    def _compress(self) -> None:
        while self._size() > self._total_cap():
            for i in range(len(self.levels)):
                if self.levels[i].size > self._cap(i):
                    buf = np.sort(self.levels[i])
                    off = self._flip
                    self._flip ^= 1
                    promoted = buf[off::2]
                    self.levels[i] = np.empty(0)
                    if i + 1 == len(self.levels):
                        self.levels.append(np.empty(0))
                    self.levels[i + 1] = np.concatenate(
                        [self.levels[i + 1], promoted]
                    )
                    break
            else:
                break

    def from_sorted_like(self, arr: np.ndarray) -> "KLL":
        """agg bulk-builder hook: tiny groups (n <= k) are stored exactly
        in level 0; larger groups go through the normal compactor."""
        kll = KLL(self.k)
        n = arr.size
        if n == 0:
            return kll
        kll.min, kll.max = float(arr[0]), float(arr[-1])
        kll.n = int(n)
        if n <= self.k:
            kll.levels[0] = arr.astype(np.float64, copy=True)
        else:
            kll.levels[0] = arr.astype(np.float64, copy=True)
            kll._compress()
        return kll

    def serialize_sorted_groups_like(self, values, starts, ends) -> list:
        """Bulk hook: blobs for consecutive sorted group segments,
        bit-identical to ``from_sorted_like(values[s:e]).serialize()``
        per group without constructing the objects — a group with
        n <= k is stored exactly as a single level-0 compactor, so its
        blob is header + one level size + values."""
        k = self.k
        pack = struct.Struct("<4sHIQddBBQ").pack  # header + 1-level size
        magic, ver = self.MAGIC, self.VERSION
        out = []
        for s, e in zip(starts, ends):
            n = int(e - s)
            if n == 0:  # all-null group: the empty sketch's blob
                out.append(pack(magic, ver, k, 0, np.inf, -np.inf, 1, 0, 0))
            elif n <= k:
                seg = values[s:e]
                out.append(
                    pack(magic, ver, k, n, seg[0], seg[-1], 1, 0, n)
                    + seg.tobytes()
                )
            else:
                out.append(self.from_sorted_like(values[s:e]).serialize())
        return out

    def merge_blob_groups_like(self, blobs, starts, ends) -> list:
        """Reducer bulk hook (see TDigest.merge_blob_groups_like).
        Eligible partials are single-level (level-0 only, the tiny-group
        construction): the group merges as concat + per-group sort +
        bulk serialization — exact for merged n <= k, one deterministic
        compaction pass otherwise. Multi-level partials take the
        sequential path."""
        import numpy as np

        from .base import merge_blob_groups_bulk

        head = struct.Struct("<4sHIQddBB")
        off0 = head.size

        def extract_unit(b):
            # eligible iff single-level (level-0 only): its values are
            # the raw inputs, weight 1 each
            _m, _v, _k, n, _mn, _mx, nlev, _flip = head.unpack_from(b, 0)
            if nlev != 1:
                return None
            (sz0,) = struct.unpack_from("<Q", b, off0)
            return np.frombuffer(b, np.float64, sz0, off0 + 8)

        return merge_blob_groups_bulk(self, blobs, starts, ends, extract_unit)

    # -- protocol --------------------------------------------------------
    def update(self, values) -> "KLL":
        arr = clean_numeric(values)
        if arr.size == 0:
            return self
        self.min = min(self.min, float(arr.min()))
        self.max = max(self.max, float(arr.max()))
        self.n += arr.size
        self.levels[0] = np.concatenate([self.levels[0], arr])
        self._compress()
        return self

    def merge(self, other: "KLL") -> "KLL":
        if other.k != self.k:
            raise ValueError("k mismatch")
        if other.n == 0:
            return self
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        self.n += other.n
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0))
        for i, lv in enumerate(other.levels):
            if lv.size:
                self.levels[i] = np.concatenate([self.levels[i], lv])
        self._compress()
        return self

    # -- queries ---------------------------------------------------------
    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        vals = []
        wts = []
        for i, lv in enumerate(self.levels):
            if lv.size:
                vals.append(lv)
                wts.append(np.full(lv.size, 1 << i, dtype=np.float64))
        if not vals:
            return np.empty(0), np.empty(0)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="mergesort")
        return v[order], w[order]

    def quantile(self, q) -> float | np.ndarray:
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        v, w = self._weighted_items()
        if v.size == 0:
            out = np.full(qs.shape, np.nan)
            return float(out[0]) if np.isscalar(q) else out
        cum = np.cumsum(w)
        total = cum[-1]
        targets = np.clip(qs, 0.0, 1.0) * total
        idx = np.searchsorted(cum, targets, side="left")
        idx = np.minimum(idx, v.size - 1)
        out = v[idx]
        out = np.where(qs <= 0.0, self.min, np.where(qs >= 1.0, self.max, out))
        return float(out[0]) if np.isscalar(q) else out

    def rank(self, x) -> float | np.ndarray:
        xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        v, w = self._weighted_items()
        if v.size == 0:
            out = np.full(xs.shape, np.nan)
            return float(out[0]) if np.isscalar(x) else out
        cum = np.concatenate([[0.0], np.cumsum(w)])
        idx = np.searchsorted(v, xs, side="right")
        out = cum[idx] / cum[-1]
        return float(out[0]) if np.isscalar(x) else out

    @classmethod
    def quantile_blobs(cls, blobs, qs) -> np.ndarray:
        """(len(blobs), len(qs)) quantile estimates in ONE vectorized
        pass — EXACTLY equal to
        ``[cls.deserialize(b).quantile(qs) for b in blobs]``. Parses the
        headers, sorts each blob's weighted items by value and hands
        them to :func:`_select_segments`, the rank-select kernel
        :meth:`quantile_sorted_groups_like` shares."""
        p = len(blobs)
        qs_arr = np.atleast_1d(np.asarray(qs, dtype=np.float64))
        out = np.full((p, qs_arr.size), np.nan)
        if p == 0:
            return out
        head = struct.Struct("<4sHIQddBB")
        mins = np.empty(p)
        maxs = np.empty(p)
        totals = np.zeros(p, dtype=np.int64)
        vals_parts: list[np.ndarray] = []
        wts_parts: list[np.ndarray] = []
        item_counts = np.zeros(p, dtype=np.int64)
        for i, b in enumerate(blobs):
            magic, ver, _k, _n, mn, mx, n_levels, _flip = head.unpack_from(b, 0)
            if magic != cls.MAGIC or ver != cls.VERSION:
                raise ValueError("bad KLL blob header")
            mins[i], maxs[i] = mn, mx
            off = head.size
            sizes = struct.unpack_from(f"<{n_levels}Q", b, off)
            off += 8 * n_levels
            for lvl, sz in enumerate(sizes):
                if sz:
                    vals_parts.append(np.frombuffer(b, np.float64, sz, off))
                    wts_parts.append(
                        np.full(sz, np.int64(1) << lvl, dtype=np.int64)
                    )
                    item_counts[i] += sz
                    totals[i] += int(sz) << lvl
                off += 8 * sz

        live = np.flatnonzero(item_counts > 0)
        if live.size == 0:
            return out
        # only live blobs appended parts, in blob order
        v = np.concatenate(vals_parts)
        w = np.concatenate(wts_parts)
        seg_sizes = item_counts[live]
        order = np.lexsort((v, np.repeat(np.arange(live.size), seg_sizes)))
        out[live] = _select_segments(
            v[order], w[order], seg_sizes, totals[live], mins[live],
            maxs[live], qs_arr,
        )
        return out

    def quantile_sorted_groups_like(self, values, starts, ends, qs) -> np.ndarray:
        """(len(starts), len(qs)) estimates for consecutive sorted group
        segments of ``values``, BIT-IDENTICAL to
        ``quantile_blobs(serialize_sorted_groups_like(values, starts,
        ends), qs)`` without building a blob: a group of at most k
        values is one level-0 compactor (its sorted values, weight 1),
        a larger one builds through ``from_sorted_like`` and its items
        are stably sorted as the blob path's lexsort would; both feed
        the same rank-select kernel. An empty group answers NaN."""
        values = np.asarray(values, dtype=np.float64)
        starts = np.asarray(starts, dtype=np.int64)
        ends = np.asarray(ends, dtype=np.int64)
        qs_arr = np.atleast_1d(np.asarray(qs, dtype=np.float64))
        out = np.full((starts.size, qs_arr.size), np.nan)
        n = ends - starts
        live = np.flatnonzero(n > 0)
        if live.size == 0:
            return out
        s, e, nl = starts[live], ends[live], n[live]
        sizes = nl.copy()  # items per group
        totals = nl.copy()
        big = np.flatnonzero(nl > self.k)
        parts = []
        for i in big:
            sk = self.from_sorted_like(values[s[i] : e[i]])
            v_i = np.concatenate(sk.levels)
            w_i = np.concatenate(
                [np.full(lv.size, np.int64(1) << j) for j, lv in enumerate(sk.levels)]
            )
            order = np.argsort(v_i, kind="stable")
            parts.append((v_i[order], w_i[order]))
            sizes[i] = v_i.size
            totals[i] = int(w_i.sum())
        offs = np.cumsum(sizes) - sizes
        v = np.empty(int(sizes.sum()))
        w = np.ones(v.size, dtype=np.int64)
        small = np.flatnonzero(nl <= self.k)
        copy_segments(values, s[small], nl[small], v, offs[small])
        for i, (v_i, w_i) in zip(big, parts):
            v[offs[i] : offs[i] + sizes[i]] = v_i
            w[offs[i] : offs[i] + sizes[i]] = w_i
        out[live] = _select_segments(
            v, w, sizes, totals, values[s], values[e - 1], qs_arr
        )
        return out

    # -- serialization ----------------------------------------------------
    def serialize(self) -> bytes:
        head = struct.pack(
            "<4sHIQddBB",
            self.MAGIC,
            self.VERSION,
            self.k,
            self.n,
            self.min,
            self.max,
            len(self.levels),
            self._flip,
        )
        sizes = struct.pack(f"<{len(self.levels)}Q", *(a.size for a in self.levels))
        return head + sizes + b"".join(np.ascontiguousarray(a).tobytes() for a in self.levels)

    @classmethod
    def deserialize(cls, data: bytes) -> "KLL":
        (k, n, mn, mx, n_levels, flip), off = cls._check_header(data, "IQddBB")
        sizes = struct.unpack_from(f"<{n_levels}Q", data, off)
        off += 8 * n_levels
        kll = cls(k)
        kll.n, kll.min, kll.max, kll._flip = n, mn, mx, flip
        kll.levels = []
        for sz in sizes:
            kll.levels.append(
                np.frombuffer(data, dtype=np.float64, count=sz, offset=off).copy()
            )
            off += 8 * sz
        if not kll.levels:
            kll.levels = [np.empty(0)]
        return kll

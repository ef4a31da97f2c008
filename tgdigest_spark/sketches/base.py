"""Common protocol for all sketches.

Every sketch implements the same five-verb mergeable-aggregator
protocol (the generalization of the reference's min/max running-bounds
upsert, /root/reference/src/cache.rs:356-367):

    create() -> sketch
    update(batch)            # vectorized: numpy array / pandas Series in
    merge(other) -> sketch   # associative + commutative (property-tested)
    serialize() -> bytes     # versioned, stable across checkpoint resume
    deserialize(bytes)       # classmethod

``update`` and ``merge`` never touch Python row-at-a-time loops over
data values; serialization is a fixed little-endian header + raw numpy
buffers so blobs travel through Arrow as opaque BinaryType columns.
"""

from __future__ import annotations

import struct
from abc import ABC, abstractmethod

import numpy as np


class Sketch(ABC):
    MAGIC: bytes = b"SKB0"  # override per sketch, 4 bytes
    VERSION: int = 1

    @abstractmethod
    def update(self, values) -> "Sketch":
        """Absorb a vectorized batch (numpy array / pandas Series)."""

    @abstractmethod
    def merge(self, other: "Sketch") -> "Sketch":
        """Merge in-place with another sketch of identical params."""

    @abstractmethod
    def serialize(self) -> bytes: ...

    @classmethod
    @abstractmethod
    def deserialize(cls, data: bytes) -> "Sketch": ...

    # -- shared helpers -------------------------------------------------
    def _header(self, *fields: tuple[str, object]) -> bytes:
        fmt = "<4sH" + "".join(f[0] for f in fields)
        return struct.pack(fmt, self.MAGIC, self.VERSION, *(f[1] for f in fields))

    @classmethod
    def _check_header(cls, data: bytes, fmt: str) -> tuple:
        full = "<4sH" + fmt
        vals = struct.unpack_from(full, data)
        if vals[0] != cls.MAGIC:
            raise ValueError(f"bad magic {vals[0]!r}, want {cls.MAGIC!r}")
        if vals[1] != cls.VERSION:
            raise ValueError(f"unsupported version {vals[1]}")
        return vals[2:], struct.calcsize(full)


def merge_blob_groups_bulk(sketch, blobs, starts, ends, extract_unit) -> list:
    """Shared reducer bulk hook behind ``merge_blob_groups_like``.

    ``extract_unit(blob) -> np.ndarray | None`` returns the blob's raw
    unit-weight values when it is bulk-eligible (the tiny-group map-side
    construction: unit-weight t-digest / single-level KLL), else None.
    Groups whose partials are ALL eligible fast-lane through ONE
    concat + lexsort + ``sketch.serialize_sorted_groups_like`` pass
    across every such group — no per-sketch objects; any other group
    falls back to sequential deserialize/merge. Each sketch class keeps
    only its format-specific header parse in ``extract_unit``.
    """
    cls = type(sketch)
    raw = [extract_unit(b) for b in blobs]
    out: list = [None] * len(starts)
    fast: list[int] = []
    for gi, (s, e) in enumerate(zip(starts, ends)):
        if all(raw[i] is not None for i in range(s, e)):
            fast.append(gi)
        else:
            acc = cls.deserialize(blobs[s])
            for b in blobs[s + 1 : e]:
                acc.merge(cls.deserialize(b))
            out[gi] = acc.serialize()
    if fast:
        glens = np.array(
            [
                int(sum(raw[i].size for i in range(starts[gi], ends[gi])))
                for gi in fast
            ],
            dtype=np.int64,
        )
        vals = np.concatenate(
            [raw[i] for gi in fast for i in range(starts[gi], ends[gi])]
            or [np.empty(0)]
        )
        seg = np.repeat(np.arange(len(fast)), glens)
        order = np.lexsort((vals, seg))
        gends = np.cumsum(glens)
        gstarts = gends - glens
        fast_blobs = sketch.serialize_sorted_groups_like(
            vals[order], gstarts, gends
        )
        for gi, b in zip(fast, fast_blobs):
            out[gi] = b
    return out


def copy_segments(values, starts, lens, out, offs) -> None:
    """``out[offs[i]:offs[i] + lens[i]] = values[starts[i]:starts[i] +
    lens[i]]`` for every i, as one vectorized gather/scatter."""
    within = np.arange(int(lens.sum())) - np.repeat(np.cumsum(lens) - lens, lens)
    out[np.repeat(offs, lens) + within] = values[np.repeat(starts, lens) + within]


def clean_numeric(values) -> np.ndarray:
    """Batch → float64 ndarray with NaN/None dropped.

    Null policy mirrors the reference: Option::None metrics never enter
    rankings (/root/reference/src/post.rs:78) — nulls never enter
    sketches.
    """
    try:
        import pandas as pd

        if isinstance(values, pd.Series):
            arr = values.to_numpy(dtype=np.float64, na_value=np.nan)
        else:
            arr = np.asarray(values, dtype=np.float64)
    except (TypeError, ValueError):
        arr = np.asarray(values, dtype=np.float64)
    return arr[~np.isnan(arr)]

"""Spark-side sketch aggregation: partial build → shuffle blobs → merge.

Topology (designed for 10^12-row tables on 1000-executor clusters,
exercised locally on local[N]):

* **Global sketch** (one sketch for the whole column):
  ``mapInPandas`` builds ONE partial sketch per input partition — no
  shuffle of raw rows, pure map-side combine. Partials (KB-sized blobs)
  are then tree-merged: Spark-side merge rounds of fan-in ``fanout``
  while the partial count is large, final pairwise merge on the driver.
  Driver memory stays flat at any scale (log-depth merges, per
  SURVEY.md §4).

* **Per-key sketch** (one sketch per group, e.g. per conv_id):
  - ``method='auto'`` (default): the input picks between ``combine``
    and ``repartition``. A first-batch sample of the key columns
    (:func:`_auto_method`, tens of ms) takes ``repartition`` for the
    tiny-group regime (a few rows per key over many keys, e.g. per
    conversation) and ``combine`` for everything else, including any
    input it cannot cheaply sample (derived plans, aliased keys,
    non-parquet files). The choice moves speed only, never the bound:
    both branches build each group's sketch from exactly that group's
    values, and a sketch built in one pass carries the same published
    error bound as any merge tree of partials (Agarwal et al.,
    "Mergeable Summaries", PODS 2012). Register-style and linear
    sketches (HLL, count-min, DDSketch) and KLL groups of at most k
    values come out bit-identical; t-digest centroids may differ
    within the digest's rank bound.
  - ``method='combine'``: map-side partial per (partition, key) via
    pandas groupby inside ``mapInPandas``, then ONE shuffle of small
    blobs + a merge pass per key. Conversation-length skew is absorbed
    map-side: a hot key's rows are pre-reduced to one blob per
    partition before the shuffle. In the tiny-group regime the
    "partial" is just the raw values, so the blob shuffle and the
    second Python pass are pure overhead.
  - ``method='repartition'``: ONE hash shuffle of the raw (keys,
    value) projection, then the ``clustered`` single pass. A parquet
    scan is shuffled onto one wave of tasks (one per core, more as the
    input grows, see :func:`_single_pass_partitions`); any other input
    at the session's shuffle width, so when it is already
    hash-partitioned by the keys (e.g. the output of a
    ``Window.partitionBy(keys)``) Spark drops the repartition and the
    plan holds one Exchange.
  - ``method='salted'``: explicit two-stage salted repartitioning
    (north_rule): groupBy(key, salt=pmod(xxhash64(salt_col), S)) →
    partial → groupBy(key) → merge. Use when per-partition key
    cardinality is so high that map-side dicts would blow memory.
  - ``method='clustered'``: ZERO-shuffle single pass for input that is
    already co-located by the key — a conv_id-bucketed table read
    (sources/transcripts.py:write_transcripts_bucketed) or the output
    of an upstream repartition(keys). The map-side combine then IS the
    final answer, so the blob shuffle + merge stage is dropped
    entirely. Caller contract: every row of a key must live in ONE
    input partition; violating it yields one row per (key, partition
    touched) instead of per key.

All data movement is Arrow-batched; sketch updates are numpy-vectorized
(see sketches/). No per-row Python anywhere.

The builders that start engine kernels (``sketch_column``,
``sketch_by_key``, ``merge_blobs_by_key``) ship the package to the
executors on first use per SparkContext (``pyfiles.ensure_shipped``):
the kernels unpickle through ``tgdigest_spark``, which a driver started
outside the source tree would otherwise leave unimportable there.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from .pyfiles import ensure_shipped
from .sketches.base import Sketch

SketchFactory = Callable[[], Sketch]

_BLOB_SCHEMA = StructType([StructField("sketch", BinaryType(), False)])


def _deser(factory: SketchFactory):
    return type(factory()).deserialize


def _merge_blobs(factory: SketchFactory, blobs) -> Sketch:
    deser = _deser(factory)
    it = iter(blobs)
    first = deser(next(it))
    for b in it:
        first.merge(deser(b))
    return first


def _value_projection(df, value, keys: list[str]):
    """Shared (keys..., value-columns) projection: ``value`` may be one
    Column/name or a list of them for sketches whose ``update`` takes
    several aligned batches (e.g. PrioritySample's (ids, weights)).
    Returns (value column names, projected DataFrame)."""
    if isinstance(value, (list, tuple)):
        cols = [F.col(c) if isinstance(c, str) else c for c in value]
        vnames = [f"v{i}" for i in range(len(cols))]
    else:
        cols = [F.col(value) if isinstance(value, str) else value]
        vnames = ["v"]
    return vnames, df.select(
        *keys, *[c.alias(n) for c, n in zip(cols, vnames)]
    )


# ---------------------------------------------------------------------------
# global sketch
# ---------------------------------------------------------------------------

def sketch_column(
    df: DataFrame,
    value: Column | str,
    factory: SketchFactory,
    fanout: int = 512,
) -> Sketch:
    """Build one sketch over ``value`` across the whole DataFrame.

    ``fanout`` bounds the driver's inbox (<= fanout KB-sized blobs
    collected). The default sits ABOVE the usual
    ``spark.sql.shuffle.partitions`` (200) on purpose: the partition
    estimate in :func:`_estimated_partitions` is a conservative upper
    bound that floors at that conf, and a lower fanout would make every
    small job pay a repartition+merge round it doesn't need; 512 blobs
    of a few KB are nothing to a driver, while a 100k-partition scan
    still triggers the bounded Spark-side reduction."""
    ensure_shipped(df.sparkSession)
    vnames, vals = _value_projection(df, value, [])

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk = factory()
        seen = False
        for pdf in batches:
            if len(pdf):
                sk.update(*[pdf[n] for n in vnames])
                seen = True
        if seen:
            yield pd.DataFrame({"sketch": [sk.serialize()]})

    partials = vals.mapInPandas(build, schema=_BLOB_SCHEMA)
    return _tree_merge(partials, factory, fanout)


def _shuffle_partitions(spark) -> int | None:
    """``spark.sql.shuffle.partitions`` as an int, or None when the conf
    holds a non-numeric value (e.g. 'auto' on platforms whose AQE sizes
    shuffles itself) — every valid conf value must leave a call
    working."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (ValueError, TypeError):
        return None


def _estimated_partitions(df: DataFrame) -> int:
    """Plan-time UPPER estimate of a DataFrame's partition count WITHOUT
    touching ``.rdd`` (which materializes the plan as an RDD and does
    not exist under Spark Connect). Conservative max over the signals
    we can read cheaply: scan file count (a 100-TB table lists ~100k
    files), scheduler default parallelism, and the shuffle-partition
    conf (a plan downstream of a join/groupBy/repartition has shuffle
    width, which neither of the first two reflects). Over-estimating
    costs one tiny extra merge round; under-estimating costs an
    unbounded driver inbox."""
    est = 1
    try:
        est = max(est, len(df.inputFiles()))
    except Exception:  # pragma: no cover — Connect without inputFiles
        pass
    try:
        est = max(est, df.sparkSession.sparkContext.defaultParallelism)
    except Exception:  # pragma: no cover — Spark Connect: no SparkContext
        pass
    return max(est, _shuffle_partitions(df.sparkSession) or 200)


def _tree_merge(partials: DataFrame, factory: SketchFactory, fanout: int) -> Sketch:
    """Log-depth reduction of a DataFrame of sketch blobs to one sketch.

    Spark-side rounds keep the driver's inbox <= ``fanout`` blobs
    regardless of cluster size (a 100k-partition scan never sends 100k
    blobs to the driver).
    """

    def merge_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blobs = []
        for pdf in batches:
            blobs.extend(pdf["sketch"])
        if blobs:
            yield pd.DataFrame({"sketch": [_merge_blobs(factory, blobs).serialize()]})

    # Spark-side rounds while the estimated partial count can exceed
    # fanout (plan-time estimate, no extra action, Connect-safe); each
    # round repartitions to << fanout so one round normally suffices.
    n_est = _estimated_partitions(partials)
    target = max(2, fanout // 8)
    while n_est > fanout:
        partials = partials.repartition(target).mapInPandas(
            merge_part, schema=_BLOB_SCHEMA
        )
        n_est = target
        if target > fanout:  # fanout <= 1: one bounded round is the floor
            break
    blobs = [r["sketch"] for r in partials.collect()]
    if not blobs:
        return factory()
    return _merge_blobs(factory, blobs)


# ---------------------------------------------------------------------------
# per-key sketches
# ---------------------------------------------------------------------------

# 'auto' topology dispatch, the sketch_by_key default: choose between
# the blob-shuffle 'combine' and the raw-row 'repartition' topologies
# from a cheap sample of the key column. Tiny groups (the
# per-conversation regime: a few rows per key) make map-side combine a
# net loss — nearly every (partition, key) cell holds 1-4 rows, so the
# "partial" is a per-row digest and the blob shuffle carries MORE bytes
# than the raw rows would, plus a second build+merge pass and a second
# Python crossing (measured at sf1.0: combine 4.1 s vs
# repartition+clustered 3.0 s for 10^6 conv groups; at sf0.05 on 4
# cores: 0.98 vs 0.68 s per-conversation t-digest). Few-group keys
# keep combine: the raw-row shuffle sends each group's rows whole to
# one reduce task, where combine pre-reduces a hot key map-side. Both
# branches compute one sketch per group from exactly the group's
# values, so the dispatch affects speed only.
_AUTO_SAMPLE_ROWS = 65536
_AUTO_MAX_ROWS_PER_GROUP = 256
_AUTO_MIN_GROUPS_PER_SLOT = 4


def _java_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _scan_files_for_keys(df: DataFrame, keys: list[str]) -> list[str] | None:
    """The parquet files behind ``df`` IF its optimized plan is a pure
    scan chain (Project/Filter/Repartition over one file relation) and
    every key is a scanned column passed through unchanged — else None.
    Keys are resolved by exprId, not by name: a key produced by an
    Alias (``select(col("other").alias("k"))`` over a file that has its
    own ``k``) is a new attribute and is never probed. Used to gate the
    'auto' probe so it never re-executes derived upstream compute
    (joins, aggregates, Python stages) just to pick a topology.
    """
    try:
        root = df._jdf.queryExecution().optimizedPlan()
        allowed = {
            "Project",
            "Filter",
            "Repartition",
            "RepartitionByExpression",
        }
        scanned = set()
        stack = [root]
        while stack:
            node = stack.pop()
            ch = _java_seq(node.children())
            if not ch:
                if node.nodeName() != "LogicalRelation":
                    return None
                scanned.update(
                    a.exprId().id() for a in _java_seq(node.output())
                )
                continue
            if node.nodeName() not in allowed:
                return None
            stack.extend(ch)
        out = {a.name(): a.exprId().id() for a in _java_seq(root.output())}
        if not all(out.get(k) in scanned for k in keys):
            return None
        files = sorted(df.inputFiles())
    except Exception:  # pragma: no cover — Connect / exotic plans
        return None
    if not files:
        return None
    from urllib.parse import unquote, urlparse

    paths = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", "") or not u.path.endswith(".parquet"):
            return None
        paths.append(unquote(u.path))
    try:
        import pyarrow.parquet as pq

        names = set(pq.ParquetFile(paths[0]).schema_arrow.names)
    except Exception:
        return None
    # a scanned key can still be absent from the files (a directory
    # partition column): not probed
    if not all(k in names for k in keys):
        return None
    return paths


def _auto_method(df: DataFrame, keys: list[str]) -> str:
    """'repartition' when a first-batch sample of the key column shows
    the tiny-group regime (few rows per key, enough keys to fill the
    cluster), else 'combine'. Reads ONE Arrow batch of the key columns
    straight from the first input file (~tens of ms, independent of
    row-group size); any doubt — derived input, remote files, missing
    stats — falls back to 'combine', the safe-everywhere topology.
    Correctness does not ride on the choice: both branches emit one
    sketch per group built from exactly that group's values.

    Known bias: the sample is the head of the first file, so on
    key-sorted or key-partitioned layouts it is not a random sample.
    A file sorted by a key with large groups can show one giant group
    (combine, where repartition might win), and a file whose head holds
    only the small groups of a skewed key can show tiny groups that the
    whole table does not have (repartition, where combine might win).
    Either misread costs speed, not accuracy.
    """
    paths = _scan_files_for_keys(df, keys)
    if paths is None:
        return "combine"
    try:
        import pyarrow.parquet as pq

        batch = next(
            pq.ParquetFile(paths[0]).iter_batches(
                batch_size=_AUTO_SAMPLE_ROWS, columns=list(keys)
            )
        )
        sample = batch.to_pandas()
    except Exception:  # includes StopIteration (empty file)
        return "combine"
    n_s = len(sample)
    if n_s < 4096:
        # sample too small to trust; at this size either branch is fast
        return "combine"
    d_s = len(sample.drop_duplicates())
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # pragma: no cover
        par = 8
    if (
        n_s <= d_s * _AUTO_MAX_ROWS_PER_GROUP
        and d_s >= _AUTO_MIN_GROUPS_PER_SLOT * par
    ):
        return "repartition"
    return "combine"


# Input bytes per reduce task of the single pass: Spark's default scan
# split size, so the pass runs about one task per input split.
_SINGLE_PASS_BYTES_PER_TASK = 128 << 20


def _single_pass_partitions(df: DataFrame, keys: list[str]) -> int | None:
    """Reduce-task count for the 'repartition' topology's raw-row
    shuffle: one task per ``_SINGLE_PASS_BYTES_PER_TASK`` of input
    files, at least one per core, at most ``spark.sql.shuffle.partitions``
    — or None (let Spark size the exchange) when the input is not a
    plain parquet scan or the conf is not a number.

    Every Python task pays a fixed start cost, whatever its rows:
    about 0.06 s per wave of tasks on local[4] with the worker's
    per-task import-cache reset skipped (``tgdigest_spark._worker``),
    0.16 s without (identity stage of 4-32 tasks, median of 7), so a
    small input spread over the conf's width pays it once per wave:
    under Spark's default 200 partitions on 4 cores the single pass
    took 11.9 s (before that skip) where combine, whose merge stage
    AQE coalesces, took 1.35 s. AQE's own byte-based coalescing goes
    the other way, onto 1-3 tasks that serialize the Python build
    (measured: 3 tasks / 0.65 s serial at sf0.1 on 32 cores). One wave
    of tasks, more only as the input grows, keeps each task's in-memory
    partition near the input split size, as combine's map side is,
    unless the conf caps the width lower."""
    width = _shuffle_partitions(df.sparkSession)
    paths = _scan_files_for_keys(df, keys)
    if width is None or paths is None:
        return None
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
        size = sum(os.path.getsize(p) for p in paths)
    except Exception:  # pragma: no cover — Connect / vanished file
        return None
    return min(width, max(par, -(-size // _SINGLE_PASS_BYTES_PER_TASK)))


def sketch_by_key(
    df: DataFrame,
    keys: list[str],
    value: Column | str,
    factory: SketchFactory,
    method: str = "auto",
    salt_partitions: int = 16,
    salt_col: Column | None = None,
    out_col: str = "sketch",
    post: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    post_fields: list | None = None,
) -> DataFrame:
    """One serialized sketch per distinct ``keys`` tuple.

    Returns DataFrame[keys..., out_col binary]. See module docstring for
    the shuffle topologies (``combine`` / ``salted`` / ``clustered`` /
    ``repartition`` — an explicit hash-repartition by ``keys`` followed
    by the clustered single pass, correct on ANY input). The default,
    ``auto``, lets the input pick: a first-batch key sample
    (:func:`_auto_method`) takes ``repartition`` when it sees tiny
    groups — there the map-side "partial" is just the raw values, so
    combine's blob shuffle and second Python pass buy nothing — and
    ``combine`` otherwise, which also covers every input the probe
    cannot read cheaply. Either way each group's sketch is built from
    exactly its values, so the choice moves speed, never the bound.

    ``post`` (with ``post_fields``, the StructFields it appends after
    dropping ``out_col``): estimate-extraction fused INTO the final
    merge pass. Without it, callers run a second mapInPandas over the
    merged blob frame (e.g. ``with_quantiles``), which ships every blob
    row JVM→Python→JVM a second time — pure Arrow-boundary overhead at
    10^6-group cardinalities (round-7 profile: the merge stage of the
    per-conversation digest query spent 22 of 27 core-seconds outside
    the JVM CPU, i.e. in the boundary). The fused form yields the SAME
    rows: ``post`` is applied to each merged pandas frame in the same
    task that produced it.
    """
    ensure_shipped(df.sparkSession)
    if method == "auto":
        method = _auto_method(df, list(keys))
    vnames, proj = _value_projection(df, value, keys)
    if method == "repartition":
        # co-locate every key's rows, then the clustered single pass:
        # ONE shuffle of the narrow (keys, value) projection, ONE
        # Python crossing, ONE sketch build per group — vs combine's
        # blob shuffle + double build, which loses in the tiny-group
        # regime (see _auto_method). Width: _single_pass_partitions.
        # Input already hash-partitioned by keys at the resulting width
        # (a Window.partitionBy(keys) output) keeps its partitioning
        # and Spark drops this exchange.
        n_part = _single_pass_partitions(df, list(keys))
        proj = (
            proj.repartition(n_part, *keys)
            if n_part
            else proj.repartition(*keys)
        )
        method = "clustered"
    multi = len(vnames) > 1
    out_schema = StructType(
        [proj.schema[k] for k in keys] + [StructField(out_col, BinaryType(), False)]
    )
    final_schema = out_schema
    if post is not None:
        if post_fields is None:
            raise ValueError("post requires post_fields")
        final_schema = StructType(
            [proj.schema[k] for k in keys] + list(post_fields)
        )

    def _apply_post(gen):
        for pdf in gen:
            yield post(pdf)

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = factory().update(*[pdf[n] for n in vnames])
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row[out_col] = [sk.serialize()]
        return pd.DataFrame(row)

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = _merge_blobs(factory, list(pdf[out_col]))
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row[out_col] = [merged.serialize()]
        return pd.DataFrame(row)

    if method in ("combine", "clustered"):
        proto = factory()
        bulk = getattr(proto, "from_sorted_like", None)
        ser_bulk = getattr(proto, "serialize_sorted_groups_like", None)
        hashed_bulk = getattr(proto, "serialize_hashed_groups_like", None)

        def _bulk_hashed_partition(pdf: pd.DataFrame) -> pd.DataFrame:
            """Millions-of-tiny-groups fast path for HASH-domain
            sketches (HLL): works for any key count and any value
            dtype, because the values are hashed ONCE per partition
            (base_hash_full) instead of once per group — the per-call
            hash_pandas_object overhead was the whole cost of the
            object path at tiny group sizes (measured: 16 workers
            pinned for minutes on 6M (bucket, day) groups that the
            bulk path builds in seconds)."""
            import numpy as np

            from .sketches.hashing import base_hash_full

            if len(keys) == 1:
                codes, uniq = pd.factorize(
                    pdf[keys[0]], use_na_sentinel=False
                )
            else:
                mi = pd.MultiIndex.from_frame(pdf[list(keys)])
                codes, uniq = pd.factorize(mi, use_na_sentinel=False)
            h_all, mask = base_hash_full(pdf["v"])
            codes_v = codes[mask]
            h_v = h_all[mask]
            order = np.argsort(codes_v, kind="stable")
            codes_s, h_s = codes_v[order], h_v[order]
            if codes_s.size:
                starts = np.flatnonzero(
                    np.r_[True, codes_s[1:] != codes_s[:-1]]
                )
                ends = np.r_[starts[1:], codes_s.size]
                seg_codes = codes_s[starts]
            else:
                starts = ends = seg_codes = np.empty(0, dtype=np.int64)
            blobs = hashed_bulk(h_s, starts, ends)
            sel = list(seg_codes)
            # groups whose values were all-null still get an (empty)
            # sketch — one shared blob, they are all identical
            missing = np.setdiff1d(np.arange(len(uniq)), seg_codes)
            if missing.size:
                sel += list(missing)
                blobs = list(blobs) + [factory().serialize()] * missing.size
            out_keys = list(uniq.take(np.asarray(sel, dtype=np.int64)))
            if len(keys) == 1:
                data = {keys[0]: out_keys}
            else:
                data = {
                    k: [t[i] for t in out_keys] for i, k in enumerate(keys)
                }
            data[out_col] = list(blobs)
            return pd.DataFrame(data)

        def _bulk_partition(pdf: pd.DataFrame) -> pd.DataFrame:
            """Millions-of-tiny-groups fast path (single key column):
            the WHOLE partition in ONE factorize + lexsort + boundary
            pass, then blobs via the sketch's bulk serializer (no
            per-group objects). Operating on the whole partition — not
            per Arrow batch — matters: under random row order nearly
            every group spans batches, and the per-batch variant paid
            one sketch merge + recluster per group per extra batch
            (measured 8x slower on 10^6 tiny groups)."""
            import numpy as np

            k = keys[0]
            codes, uniq = pd.factorize(pdf[k], use_na_sentinel=False)
            v = pdf["v"].to_numpy(dtype=np.float64, na_value=np.nan)
            order = np.lexsort((v, codes))
            codes_s, v_s = codes[order], v[order]
            valid = ~np.isnan(v_s)
            codes_v, v_v = codes_s[valid], v_s[valid]
            if codes_v.size:
                starts = np.flatnonzero(
                    np.r_[True, codes_v[1:] != codes_v[:-1]]
                )
                ends = np.r_[starts[1:], codes_v.size]
                seg_codes = codes_v[starts]
            else:
                starts = ends = seg_codes = np.empty(0, dtype=np.int64)
            if ser_bulk is not None:
                blobs = ser_bulk(v_v, starts, ends)
            else:
                blobs = [
                    bulk(v_v[s:e]).serialize() for s, e in zip(starts, ends)
                ]
            out_keys = list(uniq.take(seg_codes))
            # groups whose values were all-null still get an (empty)
            # sketch — one shared blob, they are all identical
            missing = np.setdiff1d(np.arange(len(uniq)), seg_codes)
            if missing.size:
                out_keys += list(uniq.take(missing))
                blobs = list(blobs) + [factory().serialize()] * missing.size
            return pd.DataFrame({k: out_keys, out_col: blobs})

        def combine_partition(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            # one partial sketch per key per input partition (map-side
            # combine); vectorized per group.
            pdfs = [p for p in batches if len(p)]
            if not pdfs:
                return
            if bulk is not None and len(keys) == 1 and not multi:
                # concatenating the narrow (key, v) projection holds the
                # partition in memory once — bounded by the scan split
                # size, the applyInPandas envelope this stage replaces
                pdf = (
                    pdfs[0]
                    if len(pdfs) == 1
                    else pd.concat(pdfs, ignore_index=True)
                )
                yield _bulk_partition(pdf)
                return
            if hashed_bulk is not None and not multi:
                pdf = (
                    pdfs[0]
                    if len(pdfs) == 1
                    else pd.concat(pdfs, ignore_index=True)
                )
                yield _bulk_hashed_partition(pdf)
                return
            acc: dict[tuple, Sketch] = {}
            for pdf in pdfs:
                for key, grp in pdf.groupby(keys, sort=False, dropna=False):
                    k = key if isinstance(key, tuple) else (key,)
                    sk = acc.get(k)
                    if sk is None:
                        acc[k] = factory().update(*[grp[n] for n in vnames])
                    else:
                        sk.update(*[grp[n] for n in vnames])
            if acc:
                ks = list(acc.keys())
                data = {k: [t[i] for t in ks] for i, k in enumerate(keys)}
                data[out_col] = [s.serialize() for s in acc.values()]
                yield pd.DataFrame(data)

        def merge_partition(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            # all partials of a key are co-located (hash repartition), so
            # merging is a within-partition concat + single-key combine;
            # the common case (1 partial per key) passes blobs through
            # without even deserializing.
            pdfs = [p for p in batches if len(p)]
            if not pdfs:
                return
            allp = pd.concat(pdfs, ignore_index=True)
            if len(keys) == 1:
                # factorize + bincount instead of a pandas groupby
                # transform: at 10^6+ blob rows per reducer the groupby
                # was the stage's hot spot
                import numpy as np

                codes, uniq = pd.factorize(
                    allp[keys[0]], use_na_sentinel=False
                )
                cnt = np.bincount(codes, minlength=len(uniq))
                multi_mask = cnt[codes] > 1
                out = [allp.loc[~multi_mask, [*keys, out_col]]]
                if multi_mask.any():
                    mcodes = codes[multi_mask]
                    mblobs = allp.loc[multi_mask, out_col].to_numpy()
                    order = np.argsort(mcodes, kind="stable")
                    mcodes_s, mblobs_s = mcodes[order], mblobs[order]
                    starts = np.flatnonzero(
                        np.r_[True, mcodes_s[1:] != mcodes_s[:-1]]
                    )
                    ends = np.r_[starts[1:], mcodes_s.size]
                    merge_bulk = getattr(
                        proto, "merge_blob_groups_like", None
                    )
                    if merge_bulk is not None:
                        merged = merge_bulk(mblobs_s, starts, ends)
                    else:
                        merged = [
                            _merge_blobs(
                                factory, list(mblobs_s[s:e])
                            ).serialize()
                            for s, e in zip(starts, ends)
                        ]
                    out.append(
                        pd.DataFrame(
                            {
                                keys[0]: list(uniq.take(mcodes_s[starts])),
                                out_col: merged,
                            }
                        )
                    )
                yield pd.concat(out, ignore_index=True)
                return
            counts = allp.groupby(keys, sort=False, dropna=False)[
                out_col
            ].transform("size")
            singles = allp[counts == 1]
            multi = allp[counts > 1]
            out = [singles[[*keys, out_col]]]
            if len(multi):
                merged = multi.groupby(keys, sort=False, dropna=False)[
                    out_col
                ].agg(lambda blobs: _merge_blobs(factory, list(blobs)).serialize())
                out.append(merged.reset_index()[[*keys, out_col]])
            yield pd.concat(out, ignore_index=True)

        if method == "clustered":
            # input partitions already hold every row of their keys
            # (bucketed read / upstream repartition): the map-side
            # combine is complete — no blob shuffle, no merge stage.
            if post is None:
                return proj.mapInPandas(combine_partition, schema=out_schema)
            return proj.mapInPandas(
                lambda batches: _apply_post(combine_partition(batches)),
                schema=final_schema,
            )
        partials = proj.mapInPandas(combine_partition, schema=out_schema)
        # hash-repartition by key at spark.sql.shuffle.partitions (AQE
        # coalesces the tiny-blob exchange); probing .rdd for a count
        # here would materialize the plan and break under Spark Connect.
        shuffled = partials.repartition(*keys)
        if post is None:
            return shuffled.mapInPandas(merge_partition, schema=out_schema)
        return shuffled.mapInPandas(
            lambda batches: _apply_post(merge_partition(batches)),
            schema=final_schema,
        )

    if method == "salted":
        salt = (
            salt_col
            if salt_col is not None
            else F.xxhash64(*keys, *[F.col(n) for n in vnames])
        )
        salted = proj.withColumn("_salt", F.pmod(salt, F.lit(salt_partitions)))
        partials = salted.groupBy(*keys, "_salt").applyInPandas(
            lambda pdf: build_group(pdf.drop(columns=["_salt"])),
            schema=out_schema,
        )
        if post is None:
            return partials.groupBy(*keys).applyInPandas(
                merge_group, schema=out_schema
            )
        return partials.groupBy(*keys).applyInPandas(
            lambda pdf: post(merge_group(pdf)), schema=final_schema
        )

    raise ValueError(f"unknown method {method!r}")


# ---------------------------------------------------------------------------
# estimate extraction
# ---------------------------------------------------------------------------

def _quantile_names(qs: list[float], prefix: str = "p") -> list[str]:
    return [
        f"{prefix}{int(q * 100) if (q * 100).is_integer() else q}" for q in qs
    ]


def _quantile_extractor(
    factory: SketchFactory,
    qs: list[float],
    blob_col: str = "sketch",
    prefix: str = "p",
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Per-frame quantile extraction shared by :func:`with_quantiles`
    and the fused ``post`` hook of :func:`sketch_by_key` — ONE
    definition so the fused and two-stage paths are the same code."""
    deser = _deser(factory)
    bulk = getattr(type(factory()), "quantile_blobs", None)
    names = _quantile_names(qs, prefix)

    def extract_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.drop(columns=[blob_col])
        if bulk is not None:
            # mass extraction: one vectorized pass over the whole
            # Arrow batch (10^6-group extractions spend more time in
            # per-blob Python than arithmetic otherwise)
            ests = bulk(list(pdf[blob_col]), qs)
            for i, n in enumerate(names):
                out[n] = ests[:, i]
        else:
            per = [deser(b).quantile(qs) for b in pdf[blob_col]]
            for i, n in enumerate(names):
                out[n] = [e[i] for e in per]
        return out

    return extract_pdf


def with_quantiles(
    blob_df: DataFrame,
    factory: SketchFactory,
    qs: list[float],
    blob_col: str = "sketch",
    prefix: str = "p",
) -> DataFrame:
    """blob column → one double column per requested quantile."""
    names = _quantile_names(qs, prefix)
    fields = [f for f in blob_df.schema.fields if f.name != blob_col]
    out_schema = StructType(fields + [StructField(n, _double(), True) for n in names])
    extract_pdf = _quantile_extractor(factory, qs, blob_col, prefix)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield extract_pdf(pdf)

    return blob_df.mapInPandas(extract, schema=out_schema)


def sketch_quantiles_by_key(
    df: DataFrame,
    keys: list[str],
    value: Column | str,
    factory: SketchFactory,
    qs: list[float],
    method: str = "auto",
    prefix: str = "p",
) -> DataFrame:
    """Fused ``sketch_by_key`` + ``with_quantiles``: per-group quantile
    columns extracted in the SAME pass that finishes the per-key merge
    (sketch_by_key's ``post`` hook), saving one full JVM↔Python round
    trip of the merged blob frame. Row-for-row identical to the
    two-stage form — same merge, same extraction kernel."""
    names = _quantile_names(qs, prefix)
    post_fields = [StructField(n, _double(), True) for n in names]
    return sketch_by_key(
        df,
        keys,
        value,
        factory,
        method=method,
        post=_quantile_extractor(factory, qs, prefix=prefix),
        post_fields=post_fields,
    )


def _double():
    from pyspark.sql.types import DoubleType

    return DoubleType()


def merge_blob_tree(blobs: list[bytes], factory: SketchFactory, depth_chunk: int = 2):
    """Driver-side pairwise (log-depth) merge of serialized sketches."""
    deser = _deser(factory)
    layer = [deser(b) for b in blobs]
    while len(layer) > 1:
        nxt = []
        for i in range(0, len(layer), 2):
            if i + 1 < len(layer):
                nxt.append(layer[i].merge(layer[i + 1]))
            else:
                nxt.append(layer[i])
        layer = nxt
    return layer[0] if layer else factory()


def merge_blobs_by_key(
    blobs: DataFrame,
    keys: list[str],
    factory: SketchFactory,
    blob_col: str = "sketch",
) -> DataFrame:
    """RE-AGGREGATION primitive: DataFrame[keys..., blob_col binary] →
    one merged blob per distinct ``keys`` tuple, WITHOUT touching fact
    rows. Two stages, both over blob rows only:

    1. map-side combine — each input partition merges its own blobs per
       key in one pass (mapInPandas over the whole partition). Rolling
       B leaf blobs spread over P partitions up to G coarse keys ships
       at most ``min(B, G*P)`` partials into the shuffle instead of B —
       the difference between re-shuffling a 10^6-leaf cube level and
       moving a few thousand partials.
    2. hash repartition on ``keys`` + the same per-key merge — all of a
       key's partials co-locate, so one pass finishes the reduction.

    Sketch merges are associative and commutative (the library-wide
    contract pytest pins via shuffled-partition permutations), so the
    two-level tree is exact: identical registers/centroids to a
    sequential fold.
    """
    ensure_shipped(blobs.sparkSession)
    proto = factory()
    merge_bulk = getattr(proto, "merge_blob_groups_like", None)
    schema = StructType(
        [blobs.schema[k] for k in keys]
        + [StructField(blob_col, BinaryType(), False)]
    )

    def _merge_pdf(allp: pd.DataFrame) -> pd.DataFrame:
        # factorize the key tuple once; group boundaries via stable sort
        if len(keys) == 1:
            codes, uniq = pd.factorize(allp[keys[0]], use_na_sentinel=False)
            key_of = lambda c: (uniq[c],)  # noqa: E731
        else:
            mi = pd.MultiIndex.from_frame(allp[list(keys)])
            codes, uniq = pd.factorize(mi, use_na_sentinel=False)
            key_of = lambda c: tuple(uniq[c])  # noqa: E731
        import numpy as np

        order = np.argsort(codes, kind="stable")
        codes_s = codes[order]
        blobs_s = allp[blob_col].to_numpy()[order]
        starts = np.flatnonzero(np.r_[True, codes_s[1:] != codes_s[:-1]])
        ends = np.r_[starts[1:], codes_s.size]
        if merge_bulk is not None:
            merged = merge_bulk(blobs_s, starts, ends)
        else:
            merged = [
                blobs_s[s]
                if e - s == 1
                else _merge_blobs(factory, list(blobs_s[s:e])).serialize()
                for s, e in zip(starts, ends)
            ]
        out_keys = [key_of(codes_s[s]) for s in starts]
        data = {k: [t[i] for t in out_keys] for i, k in enumerate(keys)}
        data[blob_col] = list(merged)
        return pd.DataFrame(data)

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        allp = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
        yield _merge_pdf(allp)

    narrow = blobs.select(*keys, blob_col)
    partials = narrow.mapInPandas(per_partition, schema)
    return partials.repartition(*[F.col(k) for k in keys]).mapInPandas(
        per_partition, schema
    )


def merge_blob_rows(
    blobs: DataFrame, factory: SketchFactory, blob_col: str = "sketch"
) -> Sketch:
    """Fold EVERY blob row of a frame into ONE driver-side sketch —
    the read path from a persisted sketch table to a single global
    object (e.g. a key-profile MultiSketch handed to
    ``plan_equijoin(sketch_a=...)``, or a whole-history quantile
    sketch). Executors pre-merge per partition and per constant key
    (the :func:`merge_blobs_by_key` two-stage shape), so the driver
    receives exactly one blob regardless of table size."""
    merged = merge_blobs_by_key(
        blobs.select(F.lit(1).alias("_g"), blob_col),
        ["_g"],
        factory,
        blob_col=blob_col,
    )
    rows = merged.collect()
    if not rows:
        return factory()
    return type(factory()).deserialize(bytes(rows[0][blob_col]))


__all__ = [
    "sketch_column",
    "sketch_by_key",
    "sketch_quantiles_by_key",
    "with_quantiles",
    "merge_blob_tree",
    "merge_blobs_by_key",
    "merge_blob_rows",
]

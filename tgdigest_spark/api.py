"""High-level query API — the engine's answers to the north-star queries.

Approximate (sketch) paths with their exact Spark counterparts side by
side; the exact paths double as oracles in tests.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .agg import (
    _BLOB_SCHEMA,
    _quantile_names,
    _segment_quantile_frame,
    _single_pass_partitions,
    _tree_merge,
    sketch_by_key,
    sketch_column,
    sketch_quantiles_by_key,
    with_quantiles,
)
from .pyfiles import ensure_shipped
from .sketches.bloom import Bloom
from .sketches.countmin import CountMin
from .sketches.ddsketch import DDSketch
from .sketches.hll import HLL
from .sketches.kll import KLL
from .sketches.tdigest import TDigest


def quantiles(
    df: DataFrame,
    value: Column | str,
    qs: list[float],
    where: Column | None = None,
    delta: int = 200,
) -> dict[float, float]:
    """Approximate quantiles of ``value`` via a merging t-digest.

    Reference-exact counterpart: full sort over the same rows
    (/root/reference/src/post.rs:76-80); estimates are within the
    published q(1-q) c/delta rank-error bound of it.
    """
    if where is not None:
        df = df.where(where)
    sk = sketch_column(df, value, lambda: TDigest(delta))
    est = sk.quantile(qs)
    return dict(zip(qs, [float(e) for e in est]))


def grouped_quantiles(
    df: DataFrame,
    keys: list[str],
    value: Column | str,
    qs: list[float],
    delta: int = 200,
    method: str = "auto",
) -> DataFrame:
    """Per-group approximate quantiles; one row per group.

    Merge + quantile extraction run FUSED in one pass
    (agg.sketch_quantiles_by_key): same rows as the two-stage
    sketch_by_key → with_quantiles form, one fewer JVM↔Python round
    trip of the merged blob frame (round-7 optimization, guide §4).

    The default ``method='auto'`` picks the topology from a first-batch
    key sample (agg._auto_method). Tiny-group inputs (the
    per-conversation regime, a few rows per key over 10^5+ keys) take
    ``'repartition'``: one raw-row shuffle + a single clustered build
    pass replaces the blob shuffle + double build (sf0.05 on 4 cores:
    0.98 → 0.68 s per call by conv_id; sf1.0 on 32 cores: −24 %
    shuffle bytes). Few-group keys (e.g. ``role``) and inputs
    the probe cannot read cheaply keep ``'combine'``. Each group's
    digest is built from exactly its values either way, so every
    topology keeps the t-digest rank bound; pass ``method=`` to pin
    one."""
    return sketch_quantiles_by_key(
        df, keys, value, lambda: TDigest(delta), qs, method=method
    )


def text_length_quantiles(
    transcripts: DataFrame, qs: list[float] = (0.5, 0.95, 0.99), **kw
) -> dict[float, float]:
    """p50/p95/p99 of turn text length (north-star query #1)."""
    return quantiles(transcripts, F.length("text"), list(qs), **kw)


def interturn_latency_seconds(transcripts: DataFrame) -> DataFrame:
    """Per-turn latency = ts - lag(ts) within a conversation (seconds).

    No reference analog; required by BASELINE.json north_star. Window
    shuffles once on conv_id; at scale the table is written clustered by
    (conv_id, turn_idx) so AQE coalesces cheap partitions. The latency
    quantile ops compute the same lag inside their own Python pass
    (:func:`_partition_latencies`); this row frame is their parity
    reference.
    """
    from pyspark.sql import Window

    from .functions.timeutil import epoch_us

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # timezone-free integer micros regardless of ts being TIMESTAMP or
    # TIMESTAMP_NTZ (functions/timeutil.py)
    us = epoch_us("ts", dict(transcripts.dtypes)["ts"])
    prev = F.lag(us).over(w)
    return transcripts.select(
        "conv_id",
        "turn_idx",
        ((us - prev).cast("double") / F.lit(1e6)).alias("latency_s"),
    ).where(F.col("latency_s").isNotNull())


def _latency_pass(transcripts: DataFrame, kernel, schema) -> DataFrame:
    """``kernel`` over the partitions of ``(conv_id, turn_idx, us)``,
    ``us`` the timezone-free epoch micros of ``ts``, co-located by
    conv_id at the single-pass width (agg._single_pass_partitions): one
    Exchange over a plain scan, none over a bucketed scan of a table
    bucketed by conv_id.
    The kernel takes the lag itself (:func:`_partition_latencies`), so
    the plan holds no Sort and no Window."""
    from .functions.timeutil import epoch_us

    ensure_shipped(transcripts.sparkSession)
    us = epoch_us("ts", dict(transcripts.dtypes)["ts"])
    proj = transcripts.select("conv_id", "turn_idx", us.alias("us"))
    n = _single_pass_partitions(transcripts, ["conv_id"])
    proj = proj.repartition(n, "conv_id") if n else proj.repartition("conv_id")
    return proj.mapInPandas(kernel, schema=schema)


def _partition_latencies(batches):
    """(conv_id codes, conv_id uniques, latency seconds) of one
    co-located partition, or None when it is empty. Rows are ordered by
    (conv_id, turn_idx) with null turn_idx first, the Window's order,
    and each turn's latency is its micros minus its predecessor's, kept
    where both are non-null: the same long difference and double
    division as :func:`interturn_latency_seconds`, so the values are
    bit-identical."""
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return None
    pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
    codes, uniq = pd.factorize(pdf["conv_id"], use_na_sentinel=False)
    turn = pdf["turn_idx"]
    order = np.lexsort(
        (turn.fillna(0).to_numpy(), turn.notna().to_numpy(), codes)
    )
    conv = codes[order]
    us = pdf["us"]
    ok = us.notna().to_numpy()[order]
    u = us.fillna(0).to_numpy().astype(np.int64)[order]
    keep = (conv[1:] == conv[:-1]) & ok[1:] & ok[:-1]
    lat = (u[1:] - u[:-1])[keep].astype(np.float64) / 1e6
    return conv[1:][keep], uniq, lat


def latency_quantiles(
    transcripts: DataFrame, qs: list[float] = (0.5, 0.95, 0.99), delta: int = 200
) -> dict[float, float]:
    """p50/p95/p99 of inter-turn latency (north-star query #2).

    One t-digest per co-located partition over the lags it computes
    (:func:`_latency_pass`), tree-merged like :func:`quantiles`' partials:
    within the digest's rank bound of ``quantiles`` over
    :func:`interturn_latency_seconds`."""

    def partial(batches):
        got = _partition_latencies(batches)
        if got is not None and got[2].size:
            sk = TDigest(delta).update(got[2])
            yield pd.DataFrame({"sketch": [sk.serialize()]})

    partials = _latency_pass(transcripts, partial, _BLOB_SCHEMA)
    est = _tree_merge(partials, lambda: TDigest(delta), 512).quantile(list(qs))
    return dict(zip(qs, [float(e) for e in est]))


def turns_per_conversation_quantiles(
    transcripts: DataFrame, qs: list[float] = (0.5, 0.95, 0.99), delta: int = 200
) -> dict[float, float]:
    """Quantiles of conversation length in turns (north-star query #3)."""
    per_conv = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns")
    )
    return quantiles(per_conv, F.col("n_turns").cast("double"), list(qs), delta=delta)


def grouped_latency_quantiles(
    transcripts: DataFrame,
    qs: list[float] = (0.5, 0.95),
    delta: int = 200,
    min_turns: int = 2,
) -> DataFrame:
    """Per-conversation latency quantiles: one t-digest per conv_id over
    its inter-turn deltas (north-star per-group variant); a conversation
    without a delta (no two consecutive turns that both carry a ``ts``)
    has no row. ``min_turns`` is currently ignored: no further cut on
    turn count is applied.

    One Python pass over the conv_id-co-located rows
    (:func:`_latency_pass`: one Exchange over a plain scan, none over a
    bucketed scan of a conv_id-bucketed table) takes the lag, sorts the
    deltas by conversation and reads each group's quantiles from the
    sorted segments (``TDigest.quantile_sorted_groups_like``). The rows are
    bit-identical to ``sketch_quantiles_by_key`` over
    :func:`interturn_latency_seconds` with ``combine`` or
    ``repartition``: the Window's output holds each conversation whole
    in one partition, so there too every digest is built once from
    exactly its deltas."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    qs = list(qs)
    names = _quantile_names(qs)
    proto = TDigest(delta)

    def per_conversation(batches):
        got = _partition_latencies(batches)
        if got is None or not got[2].size:
            return
        codes, uniq, lat = got
        yield _segment_quantile_frame(
            "conv_id", codes, uniq, lat, proto, qs, names, empty_groups=False
        )

    schema = StructType(
        [transcripts.schema["conv_id"]]
        + [StructField(n, DoubleType(), True) for n in names]
    )
    return _latency_pass(transcripts, per_conversation, schema)


# ---------------------------------------------------------------------------
# distinct count (HLL) — exact counterpart: countDistinct
# ---------------------------------------------------------------------------

def distinct_count(
    df: DataFrame, value: Column | str, p: int = 14, where: Column | None = None
) -> float:
    """Approximate COUNT(DISTINCT value) via our HLL (std err 1.04/sqrt(2^p)).

    Exact anchors: countDistinct and the reference's HashSet membership
    (/root/reference/src/cache.rs:181).

    The value is cast to string Spark-side (like every key-sketch
    builder here): the sketch hashes the pandas dtype representation,
    and a nullable numeric column arrives int64 or float64 depending on
    nulls-in-batch, which would double-hash the same logical value.
    """
    if where is not None:
        df = df.where(where)
    col = F.col(value) if isinstance(value, str) else value
    sk = sketch_column(
        df.select(col.cast("string").alias("v")), "v", lambda: HLL(p)
    )
    return sk.estimate()


def _grouped_key_sketch(
    df: DataFrame,
    keys: list[str],
    value: Column | str,
    factory,
    deserialize,
    out_fields: list,
    per_sketch,
    multi_row: bool = False,
) -> DataFrame:
    """Shared scaffolding for the grouped KEY-sketch estimators (HLL /
    count-min / KMV / Misra-Gries): normalize the value column, build
    one blob per group (sketch_by_key — map-side combine, one blob
    shuffle), then extract estimate columns via mapInPandas.

    The value is cast to STRING Spark-side — the same normalization the
    global builders (kmv_sketch, frequent_items, heavy_hitters) apply —
    because these sketches hash the pandas dtype representation: a
    nullable numeric column arrives as int64 in null-free Arrow batches
    but float64 in batches containing a null, so without the cast the
    same logical value hashes as both '5' and '5.0' and silently
    inflates per-group estimates.

    ``per_sketch(sk)`` returns a tuple of scalars (multi_row=False: one
    output row per group, vectorized column build) or a dict of
    equal-length column arrays (multi_row=True: that many rows for the
    group; zero-length arrays skip the group).
    """
    from pyspark.sql.types import StructType

    col = F.col(value) if isinstance(value, str) else value
    if multi_row:
        # fused like the single-row form: the explode runs in the same
        # Python call as the per-key merge (the post hook has no
        # cardinality constraint), saving the second blob crossing
        key_names = list(keys)

        def explode_pdf(pdf):
            out = _blob_multirow_pdf(pdf, key_names, deserialize, per_sketch)
            if out is not None:
                return out
            empty = {k: pdf[k][:0] for k in key_names}
            for f in out_fields:
                empty[f.name] = []
            return pd.DataFrame(empty)

        return sketch_by_key(
            df,
            keys,
            col.cast("string"),
            factory,
            post=explode_pdf,
            post_fields=list(out_fields),
        )

    def extract_pdf(pdf):
        # fused into sketch_by_key's merge pass (round-7: one Python
        # crossing of the blob frame instead of two, same rows)
        out = pdf.drop(columns=["sketch"])
        vals = [per_sketch(deserialize(bytes(b))) for b in pdf["sketch"]]
        for i, f in enumerate(out_fields):
            out[f.name] = [v[i] for v in vals]
        return out

    return sketch_by_key(
        df,
        keys,
        col.cast("string"),
        factory,
        post=extract_pdf,
        post_fields=list(out_fields),
    )


def grouped_distinct_count(
    df: DataFrame, keys: list[str], value: Column | str, p: int = 12
) -> DataFrame:
    """Per-group approximate distinct counts → DataFrame[keys..., distinct_est]."""
    from pyspark.sql.types import DoubleType, StructField

    return _grouped_key_sketch(
        df,
        keys,
        value,
        lambda: HLL(p),
        HLL.deserialize,
        [StructField("distinct_est", DoubleType())],
        lambda sk: (sk.estimate(),),
    )


def sketch_cube(
    df: DataFrame,
    dims: list[str],
    value: Column | str,
    factory,
    grouping_sets: list[tuple] | None = None,
    method: str = "auto",
) -> DataFrame:
    """Re-aggregatable SKETCH CUBE: scan the fact table ONCE to build
    leaf sketches at the finest grain (the full ``dims`` tuple), then
    derive every coarser grouping set purely by MERGING leaf blobs
    (:func:`agg.merge_blobs_by_key`) — fact rows are never re-scanned
    or re-shuffled. This is the 100-TB OLAP pattern the mergeability
    contract exists for: a day×type leaf layer is built in the nightly
    scan, and month / type / global rollups are answered later from
    kilobyte blobs. Because sketch merges are associative and lossless
    for register-style sketches (HLL max, Bloom or, count-min add), a
    rolled-up sketch is IDENTICAL to one built directly from the raw
    rows of that group — the cube gate pins that equality, which is
    also the north-rule merge-associativity evidence in query form.

    ``grouping_sets`` defaults to the rollup chain
    ``[dims, dims[:-1], ..., ()]``; pass explicit tuples for a full
    cube. Returns a LAZY DataFrame[dims..., grouping_id int, sketch]
    where a rolled-up dim is NULL and ``grouping_id`` uses the SQL
    convention (bit ``len(dims)-1-i`` set ⇔ ``dims[i]`` rolled up), so
    NULL-as-value and NULL-as-rollup stay distinguishable. The leaf
    layer is persisted (reused once per grouping set); release it via
    ``result.release_cache()`` after materializing, or use
    :func:`sketch_cube_scope`.

    Reference anchor: the reference recomputes each per-chat digest
    window from raw messages every time (/root/reference/src/digest.rs
    top-k over a scanned range); the cube is the scan-once /
    re-aggregate-forever generalization Spark's blob shuffle makes
    natural.
    """
    from .agg import merge_blobs_by_key

    if not dims:
        raise ValueError("dims must be non-empty")
    reserved = {"sketch", "grouping_id", "_all"}
    bad = [d for d in dims if d in reserved]
    if bad:
        raise ValueError(f"dims may not use the reserved names {bad}")
    if grouping_sets is None:
        grouping_sets = [tuple(dims[:i]) for i in range(len(dims), -1, -1)]
    # validate BEFORE building/persisting the leaves: raising after
    # persist() would leak the cached frame with no release handle
    grouping_sets = [tuple(gs) for gs in grouping_sets]
    for gs in grouping_sets:
        unknown = [d for d in gs if d not in dims]
        if unknown:
            raise ValueError(f"grouping set {gs} not a subset of dims: {unknown}")
    leaves = sketch_by_key(df, list(dims), value, factory, method=method)
    leaves = leaves.persist()
    seen = set()
    frames = []
    for gs in grouping_sets:
        if gs in seen:
            continue
        seen.add(gs)
        gid = 0
        for i, d in enumerate(dims):
            if d not in gs:
                gid |= 1 << (len(dims) - 1 - i)
        if set(gs) == set(dims):
            level = leaves
        elif gs:
            level = merge_blobs_by_key(leaves, list(gs), factory)
        else:
            level = merge_blobs_by_key(
                leaves.withColumn("_all", F.lit(0)), ["_all"], factory
            ).drop("_all")
        cols = []
        for d in dims:
            if d in gs:
                cols.append(F.col(d))
            else:
                cols.append(
                    F.lit(None).cast(leaves.schema[d].dataType).alias(d)
                )
        cols.append(F.lit(gid).cast("int").alias("grouping_id"))
        cols.append(F.col("sketch"))
        frames.append(level.select(*cols))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    out.release_cache = leaves.unpersist  # capture BEFORE transforming
    return out


@contextmanager
def sketch_cube_scope(
    df: DataFrame,
    dims: list[str],
    value: Column | str,
    factory,
    grouping_sets: list[tuple] | None = None,
    method: str = "auto",
):
    """Context-manager form of :func:`sketch_cube` with guaranteed
    leaf-cache cleanup (same contract as
    :func:`grouped_kmv_overlap_scope`): materialize inside the block."""
    res = sketch_cube(df, dims, value, factory, grouping_sets, method)
    release = res.release_cache
    try:
        yield res
    finally:
        release()


def _hll_estimates(
    blob_df: DataFrame, out_name: str = "distinct_est"
) -> DataFrame:
    """Shared HLL blob frame → estimate column extraction (one place so
    the cube / sliding-window / grouped surfaces can't drift)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    fields = [f for f in blob_df.schema.fields if f.name != "sketch"]
    out_schema = StructType(fields + [StructField(out_name, DoubleType())])

    def extract(batches):
        for pdf in batches:
            out = pdf.drop(columns=["sketch"])
            out[out_name] = [
                HLL.deserialize(bytes(b)).estimate() for b in pdf["sketch"]
            ]
            yield out

    return blob_df.mapInPandas(extract, out_schema)


def cube_distinct_counts(
    df: DataFrame,
    dims: list[str],
    value: Column | str,
    p: int = 12,
    grouping_sets: list[tuple] | None = None,
) -> DataFrame:
    """HLL distinct-count cube → DataFrame[dims..., grouping_id,
    distinct_est double]. Value is cast to string (the key-sketch
    normalization — see :func:`_grouped_key_sketch`). Lazy; carries the
    same ``release_cache`` handle as :func:`sketch_cube`."""
    col = F.col(value) if isinstance(value, str) else value
    cube = sketch_cube(
        df, dims, col.cast("string"), lambda: HLL(p), grouping_sets
    )
    res = _hll_estimates(cube)
    res.release_cache = cube.release_cache
    return res


def sliding_window_sketches(
    df: DataFrame,
    ts: Column | str,
    value: Column | str,
    factory,
    window_days: int,
    slide_days: int,
    method: str = "auto",
    keys: list[str] | None = None,
) -> DataFrame:
    """PANE-MERGED sliding event-time windows: each fact row is
    sketched into exactly ONE pane (the slide-granularity bucket), and
    every sliding window of ``window_days`` is derived by merging its
    ``window_days / slide_days`` pane BLOBS. Spark's native
    ``window(ts, '7 days', '1 day')`` replicates every fact row
    window/slide times before the shuffle; here the replication factor
    applies to kilobyte pane blobs instead — at 10^12 turns that is the
    difference between shuffling 7 PB and 7 MB for a 7d/1d distinct-
    users dashboard. Same mergeability contract as the sketch cube:
    for register sketches the pane-merged window is bit-identical to a
    sketch built directly from the window's raw rows.

    Pane grid is tz-free: ``to_date(ts)`` (NTZ-safe) → epoch-day
    ``unix_date`` → integer division by ``slide_days``. A window is
    emitted iff it contains at least one non-empty pane (per group,
    when ``keys`` are given — pass ``keys=['tool']`` for a per-tool
    dashboard; panes are then (tool, pane) grains and windows roll up
    within each tool). Returns DataFrame[keys..., window_start date,
    sketch binary] — window covers
    ``[window_start, window_start + window_days)``.
    """
    from .agg import merge_blobs_by_key

    if window_days <= 0 or slide_days <= 0 or window_days % slide_days:
        raise ValueError(
            "window_days must be a positive multiple of slide_days"
        )
    keys = list(keys or [])
    reserved = {"_pidx", "_widx", "_v", "sketch", "window_start"}
    bad = [k for k in keys if k in reserved]
    if bad:
        raise ValueError(f"keys may not use the reserved names {bad}")
    panes_per_window = window_days // slide_days
    col = F.col(value) if isinstance(value, str) else value
    tcol = F.col(ts) if isinstance(ts, str) else ts
    pidx = F.floor(F.unix_date(F.to_date(tcol)) / slide_days).alias("_pidx")
    leaves = sketch_by_key(
        df.select(*keys, pidx, col.alias("_v")),
        keys + ["_pidx"],
        "_v",
        factory,
        method=method,
    )
    # explode pane blobs to the windows containing them: pane p belongs
    # to windows p-k+1 .. p (k = panes_per_window) on the slide grid
    exploded = leaves.select(
        *keys,
        F.explode(
            F.sequence(
                F.col("_pidx") - (panes_per_window - 1), F.col("_pidx")
            )
        ).alias("_widx"),
        "sketch",
    )
    return _windows_from_exploded(exploded, keys, factory, slide_days)


def _windows_from_exploded(
    exploded: DataFrame, keys: list[str], factory, slide_days: int
) -> DataFrame:
    """Shared tail of the two sliding-window builders: merge pane/leaf
    blobs per (keys, _widx) and map the slide-grid index back to a
    window_start date."""
    from .agg import merge_blobs_by_key

    merged = merge_blobs_by_key(exploded, keys + ["_widx"], factory)
    return merged.select(
        *keys,
        F.date_add(
            F.lit("1970-01-01").cast("date"),
            (F.col("_widx") * slide_days).cast("int"),
        ).alias("window_start"),
        "sketch",
    )


def sliding_windows_from_leaves(
    leaves: DataFrame,
    date_col: Column | str,
    factory,
    window_days: int,
    slide_days: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Sliding windows served ENTIRELY from persisted day-grain leaf
    blobs — the fact table is never touched. ``leaves`` is a blob frame
    [keys..., date_col date, sketch] as produced by a nightly
    ``sketch_by_key(facts, [...,'day'], ...)`` job persisted via
    :func:`tgdigest_spark.sources.sketch_table.write_sketch_table`;
    each leaf is exploded to the sliding windows covering its day
    (window w covers [w*slide_days, w*slide_days + window_days)) and
    window blobs are ONE blob-merge shuffle away
    (:func:`tgdigest_spark.agg.merge_blobs_by_key`).

    For register sketches (HLL / CM / Bloom / KMV / DDSketch) the
    merged window blob is BIT-IDENTICAL to a sketch built directly
    from the window's raw rows — so a 7d/1d dashboard over 10^12 turns
    costs one parquet scan of kilobyte blobs per refresh, with
    partition pruning on the key/date columns selecting which leaves
    are even read.

    Unlike :func:`sliding_window_sketches` (pane grid), window_days
    need NOT be a multiple of slide_days here: day-grain leaves belong
    to whichever windows cover them. On the common aligned grid
    (window % slide == 0) the two paths produce byte-identical window
    blobs. Returns DataFrame[keys..., window_start date, sketch].
    """
    if window_days <= 0 or slide_days <= 0:
        raise ValueError("window_days and slide_days must be positive")
    keys = list(keys or [])
    reserved = {"_widx", "sketch", "window_start"}
    bad = [k for k in keys if k in reserved]
    if bad:
        raise ValueError(f"keys may not use the reserved names {bad}")
    dcol = F.col(date_col) if isinstance(date_col, str) else date_col
    d = F.unix_date(dcol.cast("date"))
    # day d lies in window w  <=>  floor((d - window)/slide) < w <= floor(d/slide)
    lo = F.floor((d - window_days) / slide_days) + 1
    hi = F.floor(d / slide_days)
    # window_days < slide_days leaves gap days covered by NO window:
    # there lo > hi, and Spark's sequence(lo, hi) would count DOWN —
    # drop those leaves instead of exploding a bogus descending range
    exploded = leaves.where(lo <= hi).select(
        *keys,
        F.explode(F.sequence(lo, hi)).alias("_widx"),
        "sketch",
    )
    return _windows_from_exploded(exploded, keys, factory, slide_days)


def sliding_distinct_counts(
    df: DataFrame,
    ts: Column | str,
    value: Column | str,
    window_days: int,
    slide_days: int,
    p: int = 12,
) -> DataFrame:
    """HLL distinct counts per sliding window →
    DataFrame[window_start date, distinct_est double]."""
    col = F.col(value) if isinstance(value, str) else value
    sk = sliding_window_sketches(
        df, ts, col.cast("string"), lambda: HLL(p), window_days, slide_days
    )
    return _hll_estimates(sk)


def sliding_quantiles(
    df: DataFrame,
    ts: Column | str,
    value: Column | str,
    qs: list[float],
    window_days: int,
    slide_days: int,
    delta: int = 200,
    keys: list[str] | None = None,
) -> DataFrame:
    """t-digest quantiles per sliding window (optionally per group) —
    the p95-latency-per-7-day-window dashboard over transcripts →
    DataFrame[keys..., window_start, p50, p95, ...]. Same pane-merge
    topology as :func:`sliding_distinct_counts`; unlike HLL, t-digest
    pane merges are merge-tree-dependent WITHIN the published
    q(1-q)/delta rank bound rather than bit-exact (DESIGN.md), so the
    contract here is bound-level, pytest-pinned via rank intervals."""
    sk = sliding_window_sketches(
        df, ts, value, lambda: TDigest(delta), window_days, slide_days,
        keys=keys,
    )
    return with_quantiles(sk, lambda: TDigest(delta), list(qs))


def sliding_quantiles_dd(
    df: DataFrame,
    ts: Column | str,
    value: Column | str,
    qs: list[float],
    window_days: int,
    slide_days: int,
    alpha: float = 0.01,
    keys: list[str] | None = None,
) -> DataFrame:
    """DDSketch flavor of :func:`sliding_quantiles`: per-window
    RELATIVE-error quantiles whose pane merges are BIT-EXACT — a
    window's merged blob is byte-identical to a sketch built directly
    from that window's raw rows (t-digest pane merges agree only within
    the rank bound), so pane-merged windows lose nothing vs the naive
    per-window replication they replace."""
    sk = sliding_window_sketches(
        df, ts, value, lambda: DDSketch(alpha), window_days, slide_days,
        keys=keys,
    )
    return with_quantiles(sk, lambda: DDSketch(alpha), list(qs))


def _blob_multirow(
    blob_df: DataFrame, deserialize, out_fields: list, per_sketch
) -> DataFrame:
    """Blob frame → exploded rows: every non-``sketch`` column is
    carried through, and ``per_sketch(sk)`` returns a dict of
    equal-length column arrays emitted as that many rows per blob
    (zero-length skips the blob). Shared by the grouped key-sketch
    extractors and the sliding-window read-outs."""
    from pyspark.sql.types import StructType

    fields = [f for f in blob_df.schema.fields if f.name != "sketch"]
    out_schema = StructType(fields + list(out_fields))
    names = [f.name for f in fields]

    def extract(batches):
        for pdf in batches:
            out = _blob_multirow_pdf(pdf, names, deserialize, per_sketch)
            if out is not None:
                yield out

    return blob_df.mapInPandas(extract, schema=out_schema)


def _blob_multirow_pdf(
    pdf: pd.DataFrame, key_names: list[str], deserialize, per_sketch
) -> pd.DataFrame | None:
    """One frame of the multi-row blob explode (shared by the fused
    sketch_by_key post hook and :func:`_blob_multirow`); None when no
    blob produced rows."""
    outs = []
    for i in range(len(pdf)):
        cols = per_sketch(deserialize(bytes(pdf["sketch"].iloc[i])))
        n = len(next(iter(cols.values())))
        if n == 0:
            continue
        row = {k: np.repeat(pdf[k].iloc[i], n) for k in key_names}
        row.update(cols)
        outs.append(pd.DataFrame(row))
    if not outs:
        return None
    return pd.concat(outs, ignore_index=True)


def sliding_frequent_items(
    df: DataFrame,
    ts: Column | str,
    item: Column | str,
    window_days: int,
    slide_days: int,
    k: int = 64,
    top: int | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Misra-Gries frequent items per PANE-MERGED sliding window →
    DataFrame[keys..., window_start date, item, est_count long,
    max_undercount long, window_n long].

    Each fact row is counted into exactly ONE slide-granularity pane;
    every ``window_days`` window is the merge of its pane MG blobs
    (kilobytes), so a 7d/1d heavy-hitter dashboard over 10^12 turns
    replicates blobs, not fact rows. Within each window the
    deterministic sandwich holds: est_count <= true window count <=
    est_count + max_undercount (Agarwal et al., mergeable summaries —
    preserved under arbitrary merge trees), and ``window_n`` is the
    EXACT total row count of the window (MG tracks n additively, and
    pane counts sum losslessly). ``top`` caps emitted items per window
    (est desc, item asc tiebreak from FrequentItems.items())."""
    from pyspark.sql.types import LongType, StringType, StructField

    from .sketches.freq import FrequentItems

    col = F.col(item) if isinstance(item, str) else item
    blobs = sliding_window_sketches(
        df, ts, col.cast("string"), lambda: FrequentItems(k),
        window_days, slide_days, keys=keys,
    )

    def per_sketch(sk):
        pairs = sk.items()
        if top is not None:
            pairs = pairs[:top]
        return {
            "item": np.array([p[0] for p in pairs], dtype=object),
            "est_count": np.array([p[1] for p in pairs], dtype=np.int64),
            "max_undercount": np.full(len(pairs), sk.err, dtype=np.int64),
            "window_n": np.full(len(pairs), sk.n, dtype=np.int64),
        }

    return _blob_multirow(
        blobs,
        FrequentItems.deserialize,
        [
            StructField("item", StringType(), False),
            StructField("est_count", LongType(), False),
            StructField("max_undercount", LongType(), False),
            StructField("window_n", LongType(), False),
        ],
        per_sketch,
    )


def sliding_guaranteed_heavy_hitters(
    df: DataFrame,
    ts: Column | str,
    item: Column | str,
    window_days: int,
    slide_days: int,
    phi: float = 0.01,
    k: int | None = None,
) -> DataFrame:
    """EXACT phi-heavy-hitters per sliding window (items whose count
    within the window is > phi * window size), without ever running
    the naive per-window GROUP BY over replicated fact rows for the
    full item domain. Returns DataFrame[window_start date, item,
    exact_count long, window_n long], deterministic and layout-
    independent (gate-able by value hash).

    Two passes, the sliding form of :func:`guaranteed_heavy_hitters`:

    1. Pane-merged MG sketch per window (one scan; blobs shuffle, rows
       don't). With k >= 2/phi counters the merged sketch's one-sided
       bound err <= n_w/(k+1) < phi*n_w guarantees every true
       phi-heavy item of every window survives as a candidate
       (est + err >= cutoff), with the cutoff floor(phi*n_w)+1
       computed in EXACT rational arithmetic per window.
    2. Exact verify: fact rows are first semi-joined to the (tiny,
       broadcast) distinct candidate item set — bounding the
       window-explosion to candidate items only — then exploded to
       their windows, inner-joined to (window, item) candidates, and
       exact-counted. The threshold keeps no false positives; step 1
       keeps no false negatives.
    """
    import math
    from fractions import Fraction

    from .sketches.freq import FrequentItems

    if not (0 < phi < 1):
        raise ValueError("phi must be in (0, 1)")
    if window_days <= 0 or slide_days <= 0 or window_days % slide_days:
        raise ValueError(
            "window_days must be a positive multiple of slide_days"
        )
    phi_frac = Fraction(phi).limit_denominator(10**9)
    if k is None:
        k = max(8, math.ceil(2 / phi_frac))
    elif (k + 1) * phi_frac <= 1:
        raise ValueError(f"k={k} too small for phi={phi}")
    col = (F.col(item) if isinstance(item, str) else item).cast("string")
    tcol = F.col(ts) if isinstance(ts, str) else ts
    panes_per_window = window_days // slide_days

    blobs = sliding_window_sketches(
        df, tcol, col, lambda: FrequentItems(k), window_days, slide_days
    )

    def per_sketch(sk):
        cutoff = math.floor(phi_frac * sk.n) + 1
        cands = [it for it, est in sk.items() if est + sk.err >= cutoff]
        return {
            "item": np.array(cands, dtype=object),
            "cutoff": np.full(len(cands), cutoff, dtype=np.int64),
            "window_n": np.full(len(cands), sk.n, dtype=np.int64),
        }

    from pyspark.sql.types import LongType, StringType, StructField

    cands = _blob_multirow(
        blobs,
        FrequentItems.deserialize,
        [
            StructField("item", StringType(), False),
            StructField("cutoff", LongType(), False),
            StructField("window_n", LongType(), False),
        ],
        per_sketch,
    ).withColumn(
        "_widx", (F.unix_date("window_start") / slide_days).cast("long")
    )
    # candidate set is bounded by (#windows x k) narrow rows — persist
    # so the two consumers below don't rebuild the sketch stage
    cands = cands.persist()
    item_set = cands.select("item").distinct()
    pidx = F.floor(F.unix_date(F.to_date(tcol)) / slide_days)
    facts = (
        df.select(col.alias("item"), pidx.alias("_pidx"))
        .join(F.broadcast(item_set), "item", "left_semi")
        .select(
            "item",
            F.explode(
                F.sequence(
                    F.col("_pidx") - (panes_per_window - 1), F.col("_pidx")
                )
            ).alias("_widx"),
        )
    )
    counted = facts.groupBy("_widx", "item").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    out = (
        counted.join(
            F.broadcast(cands.select("_widx", "item", "cutoff", "window_n")),
            ["_widx", "item"],
        )
        .where(F.col("exact_count") >= F.col("cutoff"))
        .select(
            F.date_add(
                F.lit("1970-01-01").cast("date"),
                (F.col("_widx") * slide_days).cast("int"),
            ).alias("window_start"),
            "item",
            "exact_count",
            "window_n",
        )
        .orderBy("window_start", "item")
    )
    out.release_cache = lambda: cands.unpersist()
    return out


@contextmanager
def sliding_guaranteed_heavy_hitters_scope(
    df: DataFrame,
    ts: Column | str,
    item: Column | str,
    window_days: int,
    slide_days: int,
    phi: float = 0.01,
    k: int | None = None,
):
    """Context-manager form of :func:`sliding_guaranteed_heavy_hitters`
    with guaranteed cleanup of the persisted candidate frame (same
    rationale as :func:`grouped_kmv_overlap_scope` — the bare
    ``release_cache`` attribute vanishes on the first transformation).
    Collect inside the block; the cache is released on exit."""
    res = sliding_guaranteed_heavy_hitters(
        df, ts, item, window_days, slide_days, phi, k
    )
    release = res.release_cache
    try:
        yield res
    finally:
        release()


def grouped_cm_counts(
    df: DataFrame,
    keys: list[str],
    value: Column | str,
    probes: list[str],
    eps: float = 0.001,
    delta: float = 0.01,
) -> DataFrame:
    """Per-group count-min frequency estimates for a fixed probe list.

    → DataFrame[keys..., item string, est_count long] — one row per
    (group, probe). Same map-side-combine topology as every grouped
    sketch (sketch_by_key): one blob shuffle, skew pre-reduced per
    task. CM guarantees est_count >= true count within the group.
    """
    from pyspark.sql.types import LongType, StringType, StructField

    probe_arr = np.array([str(p) for p in probes], dtype=object)

    def per_sketch(cm):
        return {
            "item": probe_arr,
            "est_count": cm.estimate(probe_arr).astype(np.int64),
        }

    return _grouped_key_sketch(
        df,
        keys,
        value,
        lambda: CountMin.from_error(eps, delta),
        CountMin.deserialize,
        [
            StructField("item", StringType(), False),
            StructField("est_count", LongType(), False),
        ],
        per_sketch,
        multi_row=True,
    )


# ---------------------------------------------------------------------------
# heavy hitters (count-min) — exact counterpart: groupBy().count() top-k
# ---------------------------------------------------------------------------

def heavy_hitters(
    df: DataFrame,
    value: Column | str,
    k: int = 10,
    eps: float = 0.001,
    delta: float = 0.01,
    candidates_per_partition: int = 64,
    candidate_cap: int = 256,
    fanout: int = 64,
) -> DataFrame:
    """Top-k frequent items with count-min frequency estimates.

    One scan of the fact table: each partition emits a partial CountMin
    AND its local top-m candidate keys with their local counts. A
    global heavy hitter that is also locally heavy somewhere (the
    normal Zipf case) is always a candidate; the adversarial exception
    — an item spread so thinly that it is top-m in NO partition — can
    be missed, so this is a heavy-HITTER detector, not an exact top-k
    (use groupBy().count() when exactness is required; the per-batch vc
    head truncation is a further approximation in the same direction).

    Everything after the scan is DISTRIBUTED and partition-count
    independent: when the scan ran more than ``fanout`` tasks, a
    Spark-side reduction tier merges CM blobs and pre-sums candidate
    counts, so the driver inbox is bounded at
    ``fanout x (candidates_per_partition + 1)`` rows whether the scan
    ran 32 tasks or 800k; narrow scans (≤ fanout partials) collect the
    partials directly — the same inbox bound without paying a reduce
    round that exists only for width independence (round-7). Candidates
    then get their CM estimates (guaranteed >= true count) and the
    global top-k by estimate is returned.
    """
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    col = F.col(value) if isinstance(value, str) else value
    vals = df.select(col.cast("string").alias("v")).where(F.col("v").isNotNull())
    m = max(k, candidates_per_partition)
    cand_cap = max(k, candidate_cap)
    factory = lambda: CountMin.from_error(eps, delta)  # noqa: E731

    # ONE pass: each partition emits its partial CM blob (cand=None row)
    # AND its local top-m candidate keys with local counts.
    fused_schema = StructType(
        [
            StructField("cand", StringType(), True),
            StructField("cnt", LongType(), True),
            StructField("blob", BinaryType(), True),
        ]
    )

    def fused(batches):
        cm_part = factory()
        counts: dict[str, int] = {}
        seen = False
        for pdf in batches:
            seen = True
            cm_part.update(pdf["v"])
            vc = pdf["v"].value_counts()
            for key, c in vc.iloc[: 4 * m].items():
                counts[key] = counts.get(key, 0) + int(c)
        if seen:
            top = sorted(counts.items(), key=lambda kv: -kv[1])[:m]
            out = pd.DataFrame(
                {"cand": [t[0] for t in top], "cnt": [t[1] for t in top]}
            )
            out["blob"] = None
            yield pd.concat(
                [
                    out,
                    pd.DataFrame(
                        {"cand": [None], "cnt": [None], "blob": [cm_part.serialize()]}
                    ),
                ],
                ignore_index=True,
            )

    # Spark-side reduction (a small shuffle of the tiny partial rows):
    # each reducer merges its CM blobs into one and pre-sums its
    # candidate counts, keeping the top cand_cap. Candidate counts are
    # ONLY used to choose which keys to estimate — the returned counts
    # always come from the merged CM — so tier-local truncation keeps
    # the detector semantics while the driver inbox stays at most
    # tier_width x (cand_cap + 1) rows, independent of scan width.
    #
    # The reduction is WIDTH-SCALED and MULTI-ROUND (mirrors
    # agg._tree_merge): while the estimated partial count exceeds
    # fanout x tier, insert a round wide enough that each reducer merges
    # ~fanout blobs — an 800k-task scan pays log-depth rounds
    # (800k -> 12.5k -> 196 -> tier) instead of funneling 800k blobs
    # into 8 reducers in one round (reducer wall-time O(scan_tasks/8)).
    # The common case (estimate <= fanout x tier) stays a single round.
    partials = vals.mapInPandas(fused, schema=fused_schema)
    tier = max(2, fanout // 8)

    def reduce_tier(batches):
        cm_merged = None
        counts: dict[str, int] = {}
        for pdf in batches:
            for blob in pdf["blob"]:
                if blob is None:
                    continue
                part = CountMin.deserialize(bytes(blob))
                cm_merged = part if cm_merged is None else cm_merged.merge(part)
            c = pdf[pdf["cand"].notna()]
            for key, v in zip(c["cand"], c["cnt"]):
                counts[key] = counts.get(key, 0) + int(v)
        if cm_merged is None and not counts:
            return
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:cand_cap]
        out = pd.DataFrame(
            {"cand": [t[0] for t in top], "cnt": [t[1] for t in top]}
        )
        out["blob"] = None
        blob_row = pd.DataFrame(
            {
                "cand": [None],
                "cnt": [None],
                "blob": [cm_merged.serialize() if cm_merged is not None else None],
            }
        )
        yield pd.concat([out, blob_row], ignore_index=True)

    import math

    from .agg import _estimated_partitions

    n_est = _estimated_partitions(partials)
    while n_est > max(fanout, 1) * tier:
        width = math.ceil(n_est / max(fanout, 1))
        if width >= n_est:
            # fanout <= 1 can't shrink the width: bail to the fixed
            # final tier instead of looping forever (mirrors the
            # `target > fanout: break` guard in agg._tree_merge)
            break
        partials = partials.repartition(width).mapInPandas(
            reduce_tier, schema=fused_schema
        )
        n_est = width
    if n_est <= max(fanout, 1):
        # ≤ fanout partials: collect them as-is. The final reduce tier
        # would spend a whole extra Python stage + shuffle round
        # (round-7 profile: 8 tasks, ~1 s executor time, <60 ms JVM CPU
        # — pure runner overhead) pre-merging a driver inbox that is
        # already bounded at fanout x (m+1) tiny rows + fanout CM
        # blobs. Wide scans (n_est > fanout after the loop's
        # fanout x tier bound) still reduce through the tier so the
        # driver inbox stays scan-width-independent.
        rows = partials.collect()
    else:
        rows = (
            partials.repartition(tier)
            .mapInPandas(reduce_tier, schema=fused_schema)
            .collect()
        )
    blobs = [bytes(r["blob"]) for r in rows if r["blob"] is not None]
    cand_counts: dict[str, int] = {}
    for r in rows:
        if r["cand"] is not None:
            cand_counts[r["cand"]] = cand_counts.get(r["cand"], 0) + r["cnt"]
    cand = sorted(
        sorted(cand_counts, key=lambda c: (-cand_counts[c], c))[:cand_cap]
    )
    if not blobs or not cand:
        return df.sparkSession.createDataFrame(
            [], "item string, est_count long"
        )
    from .agg import merge_blob_tree

    cm = merge_blob_tree(blobs, factory)
    ests = cm.estimate(np.array(cand))
    order = np.argsort(-ests, kind="stable")[:k]
    rows = [(cand[i], int(ests[i])) for i in order]
    # k local rows: a plain createDataFrame(list) scatters them over
    # defaultParallelism slices — measured as a 32-task Python job
    # (~0.3 s wall) that does nothing. Arrow-path via pandas yields a
    # single-partition frame; rows and schema are identical.
    pdf = pd.DataFrame(
        {
            "item": pd.array([r[0] for r in rows], dtype=object),
            "est_count": pd.array(
                [r[1] for r in rows], dtype="int64"
            ),
        }
    )
    return df.sparkSession.createDataFrame(
        pdf, "item string, est_count long"
    ).coalesce(1)


# ---------------------------------------------------------------------------
# membership (Bloom) — exact counterpart: semi join / HashSet
# ---------------------------------------------------------------------------

def _approx_capacity(df: DataFrame, col: Column) -> DataFrame:
    """Capacity-sizing plan: HLL++ distinct estimate — one map-side pass
    + a single-row exchange, NOT the full distinct() hash shuffle the
    Bloom filter exists to avoid."""
    return df.agg(F.approx_count_distinct(col).alias("n"))


def build_membership(
    df: DataFrame,
    value: Column | str,
    capacity: int | None = None,
    fpr: float = 0.01,
) -> Bloom:
    """Bloom filter over a column (e.g. conv_id universe).

    When ``capacity`` is not given it is sized from approx_count_distinct
    (+25% headroom for the ~2% HLL++ error), so default sizing costs one
    scan with a map-side partial aggregate instead of an exact
    distinct().count() shuffle of the raw keys.
    """
    col = F.col(value) if isinstance(value, str) else value
    if capacity is None:
        n = _approx_capacity(df, col).collect()[0]["n"]
        capacity = max(1024, int(n * 1.25))
    return sketch_column(
        df.select(col.cast("string").alias("v")),
        "v",
        lambda: Bloom.from_capacity(capacity, fpr),
    )


def membership_prune(df: DataFrame, value: Column | str, bloom: Bloom) -> DataFrame:
    """Filter df to rows whose value is (probably) in the Bloom filter.

    At scale this is a shuffle-free semi-join: the serialized filter
    ships once per executor inside the UDF closure; no false negatives,
    <= fpr false positives pass through.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    blob = bloom.serialize()

    @pandas_udf(BooleanType())
    def probably_member(s: pd.Series) -> pd.Series:
        b = Bloom.deserialize(blob)
        mask = s.notna().to_numpy()
        out = np.zeros(len(s), dtype=bool)
        if mask.any():
            out[mask] = b.contains(s[mask])
        return pd.Series(out)

    col = F.col(value) if isinstance(value, str) else value
    return df.where(probably_member(col.cast("string")))


def bloom_prune_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    how: str = "inner",
    capacity: int | None = None,
    fpr: float = 0.01,
    bloom: Bloom | None = None,
) -> DataFrame:
    """Sketch-accelerated join: EXACTLY ``fact.join(dim, fact[fact_key]
    == dim[dim_key], how)``, with the fact side pre-filtered through a
    Bloom filter built on the dim side's keys BEFORE the join shuffle.

    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling only plausibly-matching rows: a selective dim
    (a customer segment, a benchmark id-list, yesterday's active
    conversations) prunes the fact scan down to
    ``selectivity + fpr·(1-selectivity)`` of its rows with a
    megabyte-scale filter that ships once per executor — the same
    runtime-filter idea Spark's own bloom-filter join (SPARK-32268)
    applies, expressed over this library's mergeable Bloom so it also
    works on Connect, on non-equi follow-up logic, and on filters
    PERSISTED from a previous job.

    Exactness: the Bloom has no false negatives, so no matching fact
    row is dropped; false positives (≤ fpr of non-matching rows) pass
    the pre-filter but are eliminated by the real join. Only join types
    whose result cannot depend on pruned non-matching fact rows are
    allowed: ``inner`` and ``left_semi`` (a left/outer join must keep
    unmatched fact rows, which pruning would drop — rejected).

    Reference anchor: the reference's per-chat caches join message
    frames against an in-memory id set (/root/reference/src/cache.rs:
    181); this is that pattern with the id set compressed to a Bloom
    and pushed below the shuffle.

    Pass ``bloom`` to reuse a prebuilt/persisted filter (it MUST cover
    the dim side's current keys — a stale filter with missing keys
    loses join rows); otherwise one is built from ``dim`` here.
    """
    if how not in ("inner", "left_semi", "leftsemi", "semi"):
        raise ValueError(
            f"bloom_prune_join supports inner/left_semi joins, got {how!r}"
            " — pruning the fact side would change outer-join results"
        )
    if bloom is None:
        bloom = build_membership(
            dim, F.col(dim_key), capacity=capacity, fpr=fpr
        )
    pruned = membership_prune(fact, F.col(fact_key), bloom)
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], how)


# ---------------------------------------------------------------------------
# KLL variants of the quantile queries
# ---------------------------------------------------------------------------

def grouped_quantiles_kll(
    df: DataFrame,
    keys: list[str],
    value: Column | str,
    qs: list[float],
    k: int = 200,
    method: str = "auto",
) -> DataFrame:
    """Per-group KLL quantiles (rank-error flavor of grouped_quantiles);
    mass extraction is vectorized via KLL.quantile_blobs and fused into
    the merge pass (one Python crossing, same rows)."""
    return sketch_quantiles_by_key(
        df, keys, value, lambda: KLL(k), qs, method=method
    )


def quantiles_kll(
    df: DataFrame,
    value: Column | str,
    qs: list[float],
    k: int = 200,
    where: Column | None = None,
) -> dict[float, float]:
    """Rank-error-flavor quantiles via KLL (same API as ``quantiles``)."""
    if where is not None:
        df = df.where(where)
    sk = sketch_column(df, value, lambda: KLL(k))
    est = sk.quantile(list(qs))
    return dict(zip(qs, [float(e) for e in est]))


def quantiles_dd(
    df: DataFrame,
    value: Column | str,
    qs: list[float],
    alpha: float = 0.01,
    where: Column | None = None,
    weight: Column | str | None = None,
) -> dict[float, float]:
    """RELATIVE-error quantiles via DDSketch (Masson et al., VLDB 2019):
    each estimate is within ``alpha * |x_q|`` of the item at the queried
    rank — the natural contract for long-tailed latency/length columns
    at p99+, where t-digest/KLL bound only the RANK. DDSketch merges
    are bucket-wise int64 adds, so the distributed build is bit-
    identical to a single-process fold under any partition layout.

    ``weight`` (integral repetition counts) computes quantiles over the
    LOGICAL rows of a pre-aggregated (value, count) table — bit-equal
    to exploding the counts, without moving the exploded rows."""
    if where is not None:
        df = df.where(where)
    if weight is not None:
        wc = F.col(weight) if isinstance(weight, str) else weight
        sk = sketch_column(
            df, [value, wc.cast("long")], lambda: DDSketch(alpha)
        )
    else:
        sk = sketch_column(df, value, lambda: DDSketch(alpha))
    est = sk.quantile(list(qs))
    return dict(zip(qs, [float(e) for e in np.atleast_1d(est)]))


def grouped_quantiles_dd(
    df: DataFrame,
    keys: list[str],
    value: Column | str,
    qs: list[float],
    alpha: float = 0.01,
    method: str = "auto",
) -> DataFrame:
    """Per-group relative-error quantiles (DDSketch flavor of
    grouped_quantiles). Because the merge is bit-exact, every topology
    (combine / salted / clustered) yields byte-identical blobs — the
    strongest form of the north-rule associativity contract; mass
    extraction is vectorized via DDSketch.quantile_blobs and fused into
    the merge pass (one Python crossing, same rows)."""
    return sketch_quantiles_by_key(
        df, keys, value, lambda: DDSketch(alpha), qs, method=method
    )


def cdf(
    df: DataFrame,
    value: Column | str,
    xs: list[float],
    where: Column | None = None,
    delta: int = 200,
) -> dict[float, float]:
    """Approximate CDF — estimated fraction of rows with value <= x at
    each probe point, via the same merging t-digest ``quantiles`` uses
    (TDigest.cdf is the inverse interpolation of TDigest.quantile).
    Rank-accuracy bound is the quantile bound transposed: the estimate
    lies within the published q(1-q) c/delta band of the tie interval
    [#(v<x)/n, #(v<=x)/n]."""
    xs = [float(x) for x in xs]  # materialize once: xs is consumed twice
    if where is not None:
        df = df.where(where)
    sk = sketch_column(df, value, lambda: TDigest(delta))
    est = sk.cdf(xs)
    return dict(zip(xs, [float(e) for e in np.atleast_1d(est)]))


def ranks_kll(
    df: DataFrame,
    value: Column | str,
    xs: list[float],
    k: int = 200,
    where: Column | None = None,
) -> dict[float, float]:
    """Rank-error-flavor CDF via KLL: KLL.rank(x) estimates the
    inclusive normalized rank #(v<=x)/n within the KLL eps(k) bound
    (same API shape as ``cdf``)."""
    xs = [float(x) for x in xs]  # materialize once: xs is consumed twice
    if where is not None:
        df = df.where(where)
    sk = sketch_column(df, value, lambda: KLL(k))
    est = sk.rank(xs)
    return dict(zip(xs, [float(e) for e in np.atleast_1d(est)]))


# ---------------------------------------------------------------------------
# KMV bottom-k distinct sketch — set algebra HLL cannot do
# ---------------------------------------------------------------------------

def kmv_sketch(
    df: DataFrame, value: Column | str, k: int = 1024,
    where: Column | None = None,
) -> "KMV":
    """Build one KMV bottom-k distinct sketch over ``value`` (one scan,
    blob tree-merge — same topology as every global sketch). The
    returned sketch supports union / intersection / difference /
    Jaccard against other KMV sketches (sketches.kmv module functions),
    and is EXACT while the true cardinality stays below k."""
    from .sketches.kmv import KMV

    if where is not None:
        df = df.where(where)
    col = F.col(value) if isinstance(value, str) else value
    return sketch_column(
        df.select(col.cast("string").alias("v")), "v", lambda: KMV(k)
    )


def distinct_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    value: Column | str,
    k: int = 4096,
) -> dict[str, float]:
    """Distinct-set overlap between two frames' ``value`` columns:
    {'distinct_a', 'distinct_b', 'union', 'intersection',
    'difference_a_not_b', 'jaccard'} — one scan per side, then
    driver-side sketch algebra on two <= 8k-hash samples. Exact when
    both sides' cardinality < k. The DataFrame-native exact counterpart
    (countDistinct + INTERSECT) shuffles both raw key sets; this ships
    two bounded blobs."""
    from .sketches.kmv import (
        kmv_difference_estimate,
        kmv_intersection_estimate,
        kmv_jaccard_estimate,
        kmv_union,
    )

    a = kmv_sketch(df_a, value, k)
    b = kmv_sketch(df_b, value, k)
    return {
        "distinct_a": a.estimate(),
        "distinct_b": b.estimate(),
        "union": kmv_union(a, b).estimate(),
        "intersection": kmv_intersection_estimate(a, b),
        "difference_a_not_b": kmv_difference_estimate(a, b),
        "jaccard": kmv_jaccard_estimate(a, b),
    }


def grouped_kmv_overlap(
    df: DataFrame,
    group_col: Column | str,
    value: Column | str,
    k: int = 8192,
    max_groups: int = 4096,
) -> DataFrame:
    """Pairwise distinct-set overlap between groups — the "audience
    overlap" / corpus-source-overlap matrix: one KMV bottom-k sketch
    per group (the fact table is scanned ONCE via sketch_by_key's
    map-side combine + one blob shuffle), then theta-framework set
    algebra (Beyer et al. 2007) over each unordered group pair's two
    sketches. Returns one row per pair (group_a < group_b):
    [group_a, group_b, distinct_a, distinct_b, intersection_est,
    union_est, jaccard_est, kmv_exact] — kmv_exact marks pairs whose
    MERGED union sketch is still sub-k (strictly stronger than both
    inputs being sub-k — two sub-k sketches can merge saturated, which
    would make union_est an estimate), i.e. every emitted value exact.

    Scale shape: the DataFrame-exact counterpart is a self-join of the
    distinct (group, value) pairs, which shuffles the raw key sets and
    explodes on hot values; this ships one bounded blob per group
    (<= 8k hashes each, guarded by ``max_groups``) and does
    O(|G|^2 * k) vectorized set ops driver-side — milliseconds for
    groups in the hundreds. For |G| beyond max_groups use
    ``grouped_kmv_overlap_distributed`` (block-pair grid join; same
    matrix, executor-side algebra).
    """
    from .sketches.kmv import KMV, kmv_pair_row

    blobs = _overlap_blobs(df, group_col, value, k)
    # bound the collect BEFORE it happens: pull at most max_groups + 1
    # rows so a runaway group column fails fast instead of OOMing the
    # driver first
    rows = blobs.limit(max_groups + 1).collect()
    if len(rows) > max_groups:
        raise ValueError(
            f"> max_groups={max_groups} groups: collect is bounded by "
            "design — raise max_groups or use "
            "grouped_kmv_overlap_distributed (executor-side algebra)"
        )
    sks = sorted(
        ((r["g"], KMV.deserialize(bytes(r["sketch"]))) for r in rows),
        key=lambda t: t[0],
    )
    out = []
    for i in range(len(sks)):
        ga, a = sks[i]
        for gb, b in sks[i + 1 :]:
            out.append(kmv_pair_row(ga, a, gb, b))
    return df.sparkSession.createDataFrame(
        out,
        _OVERLAP_SCHEMA,
    )


_OVERLAP_SCHEMA = (
    "group_a string, group_b string, distinct_a double, "
    "distinct_b double, intersection_est double, union_est double, "
    "jaccard_est double, kmv_exact boolean"
)


def _overlap_blobs(
    df: DataFrame, group_col: Column | str, value: Column | str, k: int
) -> DataFrame:
    """One KMV blob per group with ≥1 non-null value — shared front end
    of both overlap formulations."""
    from .sketches.kmv import KMV

    gcol = F.col(group_col) if isinstance(group_col, str) else group_col
    vcol = F.col(value) if isinstance(value, str) else value
    proj = (
        df.select(
            gcol.cast("string").alias("g"), vcol.cast("string").alias("v")
        )
        # dropping v-NULL rows (not just relying on the sketch's null
        # skip) means all-null groups emit NO row at all, matching the
        # relational oracle whose groups derive from non-null pairs
        .where(F.col("g").isNotNull() & F.col("v").isNotNull())
    )
    return sketch_by_key(proj, ["g"], "v", lambda: KMV(k))


def grouped_kmv_overlap_distributed(
    df: DataFrame,
    group_col: Column | str,
    value: Column | str,
    k: int = 8192,
    block_size: int = 256,
) -> DataFrame:
    """``grouped_kmv_overlap`` for group cardinalities beyond a driver
    collect — same matrix, bit-identical values (one shared
    ``kmv_pair_row`` definition), computed executor-side via a
    block-pair grid join instead of a driver loop.

    Scale shape: groups are ranked by content hash and chunked into
    B = ceil(|G|/block_size) blocks of EXACTLY ≤ block_size groups
    (rank, not pmod — a hash-modulo block is only binomially balanced,
    and a hot block's bundle row would break the memory bound). The
    rank window runs on the NARROW group column only (never sketch
    bytes). Each block's sketches bundle into ONE row; diagonal cells
    come straight from the bundle table (no second bundle copy), and
    the ba < bb cross cells fan out via an executor-side range join,
    so every unordered GROUP pair lands in exactly one grid cell.
    O(|G|·B·k) bytes moved — the minimum for an inherently quadratic
    output — versus the driver path's single-machine O(|G|·k) collect
    that stops scaling at max_groups. mapInPandas streams one grid
    cell at a time (≤ block_size² pairs in flight), so executor
    memory stays bounded regardless of |G|.

    The result is LAZY and reads two persisted frames; call the
    attached ``release_cache()`` handle after the final action
    (capture it before transforming — transformations drop Python
    attributes).
    """
    import math

    from pyspark.sql import Window

    from .sketches.kmv import KMV, kmv_pair_row

    if block_size < 1:
        raise ValueError(f"block_size must be >= 1, got {block_size}")
    blobs = _overlap_blobs(df, group_col, value, k).persist()
    n_groups = blobs.count()
    spark = df.sparkSession
    if n_groups < 2:
        blobs.unpersist()
        return spark.createDataFrame([], _OVERLAP_SCHEMA)
    n_blocks = math.ceil(n_groups / block_size)
    rank = F.row_number().over(Window.orderBy(F.xxhash64("g"), "g"))
    assign = blobs.select("g").withColumn(
        "blk", F.floor((rank - F.lit(1)) / F.lit(block_size)).cast("int")
    )
    bundled = (
        blobs.join(assign, "g")
        .groupBy("blk")
        .agg(F.collect_list(F.struct("g", "sketch")).alias("bundle"))
        .persist()
    )
    # grid cells: the diagonal needs no join at all; cross cells pair
    # every ba < bb via a range self-join (executor-side — no
    # driver-side O(B^2) pair list)
    diag = bundled.select(
        F.col("blk").alias("ba"),
        F.col("blk").alias("bb"),
        F.col("bundle").alias("bun_a"),
        F.slice("bundle", 1, 0).alias("bun_b"),
    )
    ra = spark.range(n_blocks).select(F.col("id").cast("int").alias("ba"))
    rb = spark.range(n_blocks).select(F.col("id").cast("int").alias("bb"))
    cross = (
        ra.join(rb, F.col("ba") < F.col("bb"))
        .join(
            bundled.select(
                F.col("blk").alias("ba"), F.col("bundle").alias("bun_a")
            ),
            "ba",
        )
        .join(
            bundled.select(
                F.col("blk").alias("bb"), F.col("bundle").alias("bun_b")
            ),
            "bb",
        )
    )
    # Spread cells across tasks by CELL IDENTITY, not bytes: a cell is
    # ~2 bundle rows (≈ 2·block_size·k·8 bytes) but carries up to
    # block_size² pair computations — AQE's byte-based coalescing packs
    # the whole quadratic workload into a handful of tasks (measured at
    # |G|=5000: max-task 153 s ≈ the full 177 s wall, i.e. serialized).
    # One hash shuffle on (ba, bb) over ~n_cells partitions costs a
    # second pass over the O(|G|·B·k) bundle bytes — the right trade,
    # since the pair compute is the quadratic term and bundle bytes are
    # the linear one.
    n_cells = n_blocks * (n_blocks + 1) // 2
    try:
        base_par = spark.sparkContext.defaultParallelism
    except Exception:  # pragma: no cover — Spark Connect: no SparkContext
        base_par = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    par = min(max(base_par * 4, 8), n_cells)
    cells = diag.unionByName(cross).repartition(par, "ba", "bb")

    def _cell_pairs(batches):
        cols = [
            "group_a", "group_b", "distinct_a", "distinct_b",
            "intersection_est", "union_est", "jaccard_est", "kmv_exact",
        ]
        for pdf in batches:
            for ba, bb, bun_a, bun_b in zip(
                pdf["ba"], pdf["bb"], pdf["bun_a"], pdf["bun_b"]
            ):
                sks_a = [
                    (r["g"], KMV.deserialize(bytes(r["sketch"])))
                    for r in bun_a
                ]
                diag_cell = ba == bb
                sks_b = sks_a if diag_cell else [
                    (r["g"], KMV.deserialize(bytes(r["sketch"])))
                    for r in bun_b
                ]
                out = []
                for i, (ga, a) in enumerate(sks_a):
                    for gb, b in sks_a[i + 1 :] if diag_cell else sks_b:
                        out.append(kmv_pair_row(ga, a, gb, b))
                if out:
                    yield pd.DataFrame(out, columns=cols)

    result = cells.mapInPandas(_cell_pairs, _OVERLAP_SCHEMA)
    result.release_cache = lambda: (blobs.unpersist(), bundled.unpersist())
    return result


def grouped_kmv_overlap_auto(
    df: DataFrame,
    group_col: Column | str,
    value: Column | str,
    k: int = 8192,
    max_groups: int = 4096,
    block_size: int = 256,
) -> DataFrame:
    """Pick the right overlap-matrix formulation automatically (the
    ``asof_join_auto`` pattern): ONE narrow distinct-count over the
    group column decides between the driver-loop form (cheapest for
    |G| <= max_groups — a single bounded collect, no second shuffle)
    and the block-pair grid (executor-side algebra, memory bounded
    regardless of |G|). Both formulations share ``kmv_pair_row`` and
    are bit-identical (pytest + cross-gated against one oracle).

    When the grid path is taken the result is LAZY and carries the
    ``release_cache`` handle (capture before transforming), plus a
    ``dispatch_path`` attribute ('driver' | 'grid') on both paths for
    observability. For guaranteed cleanup use
    :func:`grouped_kmv_overlap_scope`.
    """
    gcol = F.col(group_col) if isinstance(group_col, str) else group_col
    vcol = F.col(value) if isinstance(value, str) else value
    n_groups = (
        df.select(
            gcol.cast("string").alias("g"), vcol.cast("string").alias("v")
        )
        .where(F.col("g").isNotNull() & F.col("v").isNotNull())
        .agg(F.countDistinct("g").alias("n"))
        .collect()[0]["n"]
    )
    if n_groups <= max_groups:
        res = grouped_kmv_overlap(df, group_col, value, k, max_groups)
        res.dispatch_path = "driver"
        res.release_cache = lambda: None  # uniform call-site contract
        return res
    res = grouped_kmv_overlap_distributed(df, group_col, value, k, block_size)
    res.dispatch_path = "grid"
    return res


@contextmanager
def grouped_kmv_overlap_scope(
    df: DataFrame,
    group_col: Column | str,
    value: Column | str,
    k: int = 8192,
    max_groups: int = 4096,
    block_size: int = 256,
):
    """Context-manager form of :func:`grouped_kmv_overlap_auto` with
    GUARANTEED cache cleanup (r5 advice: the bare ``release_cache``
    Python attribute vanishes on the first transformation, so a caller
    who transforms before capturing it leaks two persisted frames).
    The handle is captured here BEFORE the caller sees the frame:

        with grouped_kmv_overlap_scope(df, "g", "v") as pairs:
            top = pairs.orderBy(F.desc("jaccard_est")).limit(10).collect()
        # persisted blob/bundle frames are unpersisted on exit

    Collect/materialize everything you need inside the block — the
    frame is lazy, and after exit the grid path's cached inputs are
    released (a post-exit action would silently recompute them).
    """
    res = grouped_kmv_overlap_auto(
        df, group_col, value, k, max_groups, block_size
    )
    release = res.release_cache
    try:
        yield res
    finally:
        release()


def grouped_distinct_kmv(
    df: DataFrame, keys: list[str], value: Column | str, k: int = 1024
) -> DataFrame:
    """Per-group KMV distinct counts → DataFrame[keys...,
    distinct_est double, kmv_exact boolean] (kmv_exact marks groups
    still in the exact sub-k regime)."""
    from pyspark.sql.types import BooleanType, DoubleType, StructField

    from .sketches.kmv import KMV

    return _grouped_key_sketch(
        df,
        keys,
        value,
        lambda: KMV(k),
        KMV.deserialize,
        [
            StructField("distinct_est", DoubleType()),
            StructField("kmv_exact", BooleanType()),
        ],
        lambda sk: (sk.estimate(), not sk.saturated),
    )


# ---------------------------------------------------------------------------
# Misra-Gries frequent items — deterministic heavy hitters
# ---------------------------------------------------------------------------

def frequent_items(
    df: DataFrame, value: Column | str, k: int = 64,
    where: Column | None = None,
) -> "FrequentItems":
    """Build one Misra-Gries sketch over ``value`` (one scan + blob
    tree-merge). est(x) <= true(x) <= est(x) + sketch.err for EVERY
    item, deterministically — no hash-collision caveats."""
    from .sketches.freq import FrequentItems

    if where is not None:
        df = df.where(where)
    col = F.col(value) if isinstance(value, str) else value
    return sketch_column(
        df.select(col.cast("string").alias("v")), "v", lambda: FrequentItems(k)
    )


def guaranteed_heavy_hitters(
    df: DataFrame,
    value: Column | str,
    phi: float = 0.01,
    k: int | None = None,
    mg: "FrequentItems | None" = None,
    isin_limit: int = 1024,
) -> DataFrame:
    """EXACT phi-heavy-hitters (items with count > phi * N) in two
    scans, no full groupBy of the raw column.

    Scan 1 builds a Misra-Gries sketch with k >= 2/phi counters; the
    published guarantee (err <= N/(k+1) < phi*N/2) means every true
    phi-heavy item SURVIVES in the counter map, so the <= k candidate
    strings (collected — bounded by k, not by cardinality) are a
    superset of the answer. Scan 2 exact-counts ONLY the candidates
    (pushdown-friendly isin filter + tiny groupBy) and applies the
    exact threshold. Result: DataFrame[item, exact_count] — provably no
    false negatives AND no false positives, partition-layout
    independent. Use count-min's ``heavy_hitters`` when one scan
    matters more than the guarantee.

    The threshold is applied in EXACT integer arithmetic: phi is
    re-rationalized (Fraction.limit_denominator recovers e.g. 1/49 or
    7/10 from the float the caller can pass) and the cutoff is
    floor(phi*N)+1 — the double product float(phi)*N can round BELOW
    the true rational phi*N (e.g. float(1/49)*49 < 1), which would
    admit a boundary item and break the no-false-positive guarantee.
    """
    import math
    from fractions import Fraction

    if not (0 < phi < 1):
        raise ValueError("phi must be in (0, 1)")
    phi_frac = Fraction(phi).limit_denominator(10**9)
    if k is None:
        k = max(8, math.ceil(2 / phi_frac))
    col = F.col(value) if isinstance(value, str) else value
    if mg is None:
        mg = frequent_items(df, col, k=k)
    elif (mg.k + 1) * phi_frac <= 1:
        # the capture guarantee needs err <= n/(k+1) < phi*n
        raise ValueError(f"mg.k={mg.k} too small for phi={phi}")
    n_total = mg.n  # exact: never decremented, sums across partials
    cands = [it for it, _ in mg.items()]
    if not cands or n_total == 0:
        return df.sparkSession.createDataFrame(
            [], "item string, exact_count long"
        )
    vals = df.select(col.cast("string").alias("item"))
    if len(cands) <= isin_limit:
        # small candidate set → literal IN-list, pushdown-friendly
        vals = vals.where(F.col("item").isin(cands))
    else:
        # tiny-phi regime (k = 2/phi counters) → a 10k+-literal IN
        # expression bloats the plan; broadcast-semi-join the candidate
        # frame instead (same zero-shuffle probe, no literal blowup)
        cand_df = df.sparkSession.createDataFrame(
            [(c,) for c in cands], "item string"
        )
        vals = vals.join(F.broadcast(cand_df), "item", "left_semi")
    # smallest integer count strictly above phi*N, computed exactly
    cutoff = math.floor(phi_frac * n_total) + 1
    return (
        vals.groupBy("item")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .where(F.col("exact_count") >= F.lit(cutoff))
        .orderBy(F.desc("exact_count"), "item")
    )


def grouped_frequent_items(
    df: DataFrame,
    keys: list[str],
    value: Column | str,
    k: int = 32,
    top: int | None = None,
) -> DataFrame:
    """Per-group Misra-Gries frequent items → DataFrame[keys..., item,
    est_count long, max_undercount long] (est <= true <= est +
    max_undercount within the group). ``top`` caps emitted items per
    group (est desc, item asc). Same one-blob-shuffle topology as every
    grouped sketch."""
    from pyspark.sql.types import LongType, StringType, StructField

    from .sketches.freq import FrequentItems

    def per_sketch(sk):
        pairs = sk.items()
        if top is not None:
            pairs = pairs[:top]
        return {
            "item": np.array([p[0] for p in pairs], dtype=object),
            "est_count": np.array([p[1] for p in pairs], dtype=np.int64),
            "max_undercount": np.full(len(pairs), sk.err, dtype=np.int64),
        }

    return _grouped_key_sketch(
        df,
        keys,
        value,
        lambda: FrequentItems(k),
        FrequentItems.deserialize,
        [
            StructField("item", StringType(), False),
            StructField("est_count", LongType(), False),
            StructField("max_undercount", LongType(), False),
        ],
        per_sketch,
        multi_row=True,
    )


# ---------------------------------------------------------------------------
# Count-Sketch: unbiased frequencies + F2 / self-join size (AMS)
# ---------------------------------------------------------------------------

def count_sketch(
    df: DataFrame,
    value: Column | str,
    depth: int = 5,
    width: int = 8192,
    where: Column | None = None,
) -> "CountSketch":
    """Build one Count-Sketch over ``value`` (one scan + blob
    tree-merge, the sketch_column topology). Unlike count-min the
    point estimates are UNBIASED (two-sided error ~ sqrt(F2/width)),
    and the squared-counter sums estimate F2 (AMS tug-of-war)."""
    from .sketches.countsketch import CountSketch

    if where is not None:
        df = df.where(where)
    col = F.col(value) if isinstance(value, str) else value
    return sketch_column(
        df.select(col.cast("string").alias("v")),
        "v",
        lambda: CountSketch(depth, width),
    )


def selfjoin_size(
    df: DataFrame,
    value: Column | str,
    depth: int = 5,
    width: int = 8192,
    where: Column | None = None,
) -> int:
    """Approximate SELF-JOIN SIZE of ``value``: F2 = sum_x f_x^2 =
    |{(r1,r2) : value(r1) = value(r2)}| (null keys excluded), via the
    AMS estimator on a Count-Sketch. Published bound: each row of the
    sketch is unbiased with sd <= F2*sqrt(2/width); the returned value
    is the median over ``depth`` rows.

    This is the planner's pre-shuffle question at cluster scale — "how
    big is the output / the max reducer of a join on this key?" —
    answered in ONE map-side pass with a (depth x width) int64 blob
    merge, no shuffle of the fact rows. Exact counterpart (the gate
    oracle): SUM(cnt*cnt) over GROUP BY value."""
    return count_sketch(df, value, depth, width, where).f2_estimate()


def key_profile(
    df: DataFrame,
    value: Column | str,
    p: int = 14,
    depth: int = 5,
    width: int = 8192,
    mg_k: int = 256,
    where: Column | None = None,
) -> dict:
    """ONE-SCAN shuffle-key profile — the questions a planner asks
    before committing a 100-TB shuffle to this key, answered together
    in a single pass (MultiSketch fans the update stream to an HLL, a
    Count-Sketch and a Misra-Gries sketch; one blob tree-merge):

    - ``n_rows``            exact non-null row count
    - ``distinct_est``      HLL distinct keys (std err 1.04/sqrt(2^p))
    - ``selfjoin_size_est`` AMS F2 — total pairwise reducer collisions
    - ``avg_rows_per_key``  n / distinct
    - ``skew_ratio``        F2 * distinct / n^2 — 1.0 for perfectly
      uniform keys, grows with concentration (it is the ratio of the
      expected max-quadratic reducer cost to the uniform ideal)
    - ``top_keys``          MG candidates [(key, est, est+err)] — each
      est is a LOWER bound and est+err an UPPER bound on the true count
    - ``hot_share_ub``      (top1_est + err) / n — upper bound on the
      hottest key's row share; > 1/shuffle_partitions means the hottest
      reducer is load-bound by one key and salting is indicated

    All children keep their published bounds; the profile is one scan
    regardless of how many questions it answers."""
    return profile_from_sketch(
        key_profile_sketch(df, value, p, depth, width, mg_k, where)
    )


def key_profile_sketch(
    df: DataFrame,
    value: Column | str,
    p: int = 14,
    depth: int = 5,
    width: int = 8192,
    mg_k: int = 256,
    where: Column | None = None,
) -> "MultiSketch":
    """The raw [HLL, CountSketch, FrequentItems] MultiSketch behind
    :func:`key_profile` — exposed so a caller profiling BOTH sides of a
    prospective join (:func:`tgdigest_spark.operators.smart_join.
    plan_equijoin`) can also take the cross-side Count-Sketch inner
    product (AGMS join size) from the SAME two scans, instead of
    paying two more."""
    from .sketches.countsketch import CountSketch
    from .sketches.freq import FrequentItems
    from .sketches.multi import MultiSketch

    if where is not None:
        df = df.where(where)
    col = F.col(value) if isinstance(value, str) else value
    return sketch_column(
        df.select(col.cast("string").alias("v")),
        "v",
        lambda: MultiSketch(
            [HLL(p), CountSketch(depth, width), FrequentItems(mg_k)]
        ),
    )


def profile_from_sketch(sk: "MultiSketch") -> dict:
    """Format a :func:`key_profile_sketch` result into the
    :func:`key_profile` answer dict (driver-side, no Spark work)."""
    hll, cs, mg = sk.children
    n = sk.n
    distinct = hll.estimate()
    f2 = cs.f2_estimate()
    items = mg.items()
    # Empty items ≠ "no key repeats": MG tracks nothing when every
    # counter was decremented away (near-uniform keys), but the
    # one-sided bound still guarantees true_count ≤ est + err = err,
    # so err/n — not 0 — is the valid upper bound on the hottest share.
    top1_ub = (items[0][1] + mg.err) if items else mg.err
    return {
        "n_rows": n,
        "distinct_est": distinct,
        "selfjoin_size_est": f2,
        "avg_rows_per_key": (n / distinct) if distinct else float("nan"),
        "skew_ratio": (f2 * distinct / (n * n)) if n else float("nan"),
        "top_keys": [(it, est, est + mg.err) for it, est in items[:10]],
        "mg_err": mg.err,
        "hot_share_ub": (top1_ub / n) if n else float("nan"),
    }


def join_size_estimate(
    df_a: DataFrame,
    key_a: Column | str,
    df_b: DataFrame,
    key_b: Column | str,
    depth: int = 5,
    width: int = 8192,
) -> int:
    """Approximate EQUI-JOIN OUTPUT SIZE |df_a JOIN df_b ON key_a =
    key_b| = sum_x fA(x) * fB(x), via the inner product of two
    count-sketches built with the repo's shared fixed hash seeds (AGMS
    — Alon, Gibbons, Matias & Szegedy, PODS 1999). Null keys excluded
    on both sides (they never equi-join anyway).

    This is THE pre-shuffle planner question at cluster scale — "will
    this join explode / is the small side broadcastable / how big is
    the output" — answered by two independent map-side passes (one per
    input, no co-location, no shuffle of either fact table) and a
    (depth x width) int64 blob dot product on the driver. Per-row
    variance <= 2*F2(A)*F2(B)/width; median over depth rows. Exact
    counterpart (the gate oracle): SUM over matched keys of
    cntA * cntB."""
    return count_sketch(df_a, key_a, depth, width).inner_product(
        count_sketch(df_b, key_b, depth, width)
    )


def grouped_selfjoin_size(
    df: DataFrame,
    keys: list[str],
    value: Column | str,
    depth: int = 5,
    width: int = 8192,
) -> DataFrame:
    """Per-group F2 / self-join-size estimates →
    DataFrame[keys..., f2_est long]. Same one-blob-shuffle topology as
    every grouped sketch (map-side combine via sketch_by_key)."""
    from pyspark.sql.types import LongType, StructField

    from .sketches.countsketch import CountSketch

    return _grouped_key_sketch(
        df,
        keys,
        value,
        lambda: CountSketch(depth, width),
        CountSketch.deserialize,
        [StructField("f2_est", LongType())],
        lambda sk: (sk.f2_estimate(),),
    )


# ---------------------------------------------------------------------------
# Priority sampling — the mergeable weighted-sample sketch
# ---------------------------------------------------------------------------

def priority_sample_sketch(
    df: DataFrame,
    id_col: Column | str,
    weight: Column | str,
    k: int = 4096,
    where: Column | None = None,
    fanout: int = 512,
) -> "PrioritySample":
    """Build one priority sample (Duffield-Lund-Thorup 2007) over the
    whole DataFrame: k retained rows + tau, answering UNBIASED
    subset-sum estimates for any later slice predicate without
    re-scanning — "how many tokens does source X contribute" from a
    bounded sample. Same map-side-partial → blob-tree-merge topology as
    :func:`agg.sketch_column` (no raw-row shuffle); the hash-derived
    priorities make the merged sample BIT-identical to a single-pass
    build under any layout. ``id_col`` must uniquely key the sampled
    unit (duplicate ids are correlated draws, not independent items)."""
    from .sketches.prioritysample import PrioritySample

    if where is not None:
        df = df.where(where)
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    wc = F.col(weight) if isinstance(weight, str) else weight
    return sketch_column(
        df,
        [idc.cast("string"), wc.cast("double")],
        lambda: PrioritySample(k),
        fanout=fanout,
    )


def priority_sample_rows(
    df: DataFrame,
    id_col: Column | str,
    weight: Column | str,
    k: int = 4096,
    where: Column | None = None,
) -> DataFrame:
    """The retained sample as a DataFrame[id string, weight double,
    adjusted_weight double] — join it back to the fact table (broadcast;
    k rows) to carry attributes for slice estimates. SUM(adjusted_weight)
    over any id-derived predicate is unbiased for that slice's true
    SUM(weight); exact while n <= k (tau = 0)."""
    sk = priority_sample_sketch(df, id_col, weight, k, where)
    pdf = sk.sample()
    spark = df.sparkSession
    if len(pdf) == 0:
        from pyspark.sql.types import (
            DoubleType, StringType, StructField, StructType,
        )

        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("id", StringType()),
                    StructField("weight", DoubleType()),
                    StructField("adjusted_weight", DoubleType()),
                ]
            ),
        )
    return spark.createDataFrame(pdf)


def grouped_priority_sample(
    df: DataFrame,
    keys: list[str],
    id_col: Column | str,
    weight: Column | str,
    k: int = 256,
    method: str = "auto",
) -> DataFrame:
    """Per-group priority samples → DataFrame[keys..., sketch binary]:
    a bounded stratified sample (k rows per stratum) whose per-group
    subset sums stay unbiased — the sampling analog of the grouped
    sketches. Rides :func:`agg.sketch_by_key`'s shared multi-column
    topology (map-side partial per (partition, group), ONE blob
    shuffle, bit-exact per-key merge → layout-independent
    byte-for-byte; ``salted`` / ``clustered`` available too). Strata
    are expected to be coarse (sources, types, days) — two-column
    updates take the generic per-group path, not the tiny-group bulk
    path; for millions of groups use the numeric sketches."""
    from .sketches.prioritysample import PrioritySample

    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    wc = F.col(weight) if isinstance(weight, str) else weight
    return sketch_by_key(
        df,
        keys,
        [idc.cast("string"), wc.cast("double")],
        lambda: PrioritySample(k),
        method=method,
    )


def grouped_priority_sample_rows(
    df: DataFrame,
    keys: list[str],
    id_col: Column | str,
    weight: Column | str,
    k: int = 256,
) -> DataFrame:
    """Exploded form of :func:`grouped_priority_sample`:
    DataFrame[keys..., id, weight, adjusted_weight] — per-stratum
    bounded samples ready to join back to facts; within each stratum,
    SUM(adjusted_weight) over any id-derived slice is unbiased for the
    slice's true SUM(weight), exact while the stratum held <= k rows."""
    from collections.abc import Iterator

    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    from .sketches.prioritysample import PrioritySample

    blobs = grouped_priority_sample(df, keys, id_col, weight, k)
    out_schema = StructType(
        [f for f in blobs.schema.fields if f.name != "sketch"]
        + [
            StructField("id", StringType()),
            StructField("weight", DoubleType()),
            StructField("adjusted_weight", DoubleType()),
        ]
    )

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for _, row in pdf.iterrows():
                s = PrioritySample.deserialize(bytes(row["sketch"])).sample()
                for kcol in out_schema.names[: len(keys)]:
                    s[kcol] = row[kcol]
                frames.append(s[[*out_schema.names]])
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return blobs.mapInPandas(explode, out_schema)

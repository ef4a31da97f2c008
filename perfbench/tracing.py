"""Traced run: spans around layer calls, Spark metrics per span, probes.

Spans are recorded by the benchmark's own code: the runner opens one per
op, and :meth:`Tracer.install` wraps the library's eager layer entry
points (module attributes, restored by :meth:`Tracer.uninstall`). Each
span tags the Spark jobs it launches with its own job group; after the
run the status REST API (UI on in this run only) gives every job's
interval, stage metrics and SQL node metrics, which are summed per span
subtree. Self time is a span's duration minus the part of it its
children (spans and Spark jobs) cover.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tgdigest_spark import agg, api
from tgdigest_spark.operators import digest_api
from tgdigest_spark.plans import checkpoints
from tgdigest_spark.sketches.countmin import CountMin
from tgdigest_spark.sketches.hll import HLL
from tgdigest_spark.sketches.kll import KLL
from tgdigest_spark.sketches.tdigest import TDigest
from tgdigest_spark.sources import sketch_table, transcripts

from . import oracle, workloads

# eager library entry points: (module, attribute, span name)
LAYERS = [
    (agg, "sketch_column", "agg.sketch_column"),
    (api, "sketch_column", "agg.sketch_column"),
    (checkpoints, "build_checkpointed", "plans.build_checkpointed"),
    (checkpoints, "window_quantiles", "plans.window_quantiles"),
    (sketch_table, "write_sketch_table", "sources.write_sketch_table"),
    (sketch_table, "read_sketch_table", "sources.read_sketch_table"),
    (sketch_table, "compact_sketch_table", "sources.compact_sketch_table"),
    (transcripts, "write_transcripts_table", "sources.write_transcripts_table"),
    (digest_api, "run_digest", "operators.run_digest"),
]

AGG_LAYERS = ("agg.sketch_column", "agg.sketch_by_key", "agg.merge_blobs_by_key")
AGG_MEASURES = (
    "s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "python_sent_bytes", "python_received_bytes",
    "python_run_s", "python_init_s", "driver_s",
)
TOPOLOGIES = ("combine", "repartition", "salted", "auto")
# the topology arms run on 1/256 of the conversations: the salted arm's
# per-group applyInPandas needs minutes on all of them
TOPOLOGY_SLICE = 256
API_OPS = (
    "api.text_length_quantiles", "api.latency_quantiles", "api.distinct_count",
    "api.heavy_hitters", "api.grouped_quantiles_by_role",
    "api.grouped_quantiles_by_conv", "api.grouped_quantiles_kll",
    "api.grouped_latency_quantiles",
)
CONTROLS = (
    "percentile_approx", "kll_sketch_agg_double", "hll_sketch_agg",
    "count_min_sketch", "kll_sketch_agg_double_by_conv",
    "percentile_approx_by_conv",
)
SKETCH_SAMPLE = 65_536
SKETCH_REPS = 7

# SQL node metric display names of the Python nodes (MapInPandas etc.)
PY_METRICS = {
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
}
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run emits, with its unit."""
    out = [
        ("session.get_spark.s", "s"),
        ("sources.scan_floor.s", "s"),
        ("sources.input_bytes", "B"),
        ("sources.write_transcripts_table.s", "s"),
        ("sources.write_sketch_table.s", "s"),
        ("sources.read_sketch_table.s", "s"),
        ("sources.compact_sketch_table.s", "s"),
        ("sources.leaf_store_bytes", "B"),
        ("sources.leaf_store_files", "count"),
        ("sources.leaf_store_bytes_per_row", "B/row"),
    ]
    for sk in ("tdigest", "kll", "hll", "countmin"):
        out += [
            (f"sketches.{sk}.update_ns_per_value", "ns"),
            (f"sketches.{sk}.merge_us", "us"),
            (f"sketches.{sk}.serialize_us", "us"),
            (f"sketches.{sk}.deserialize_us", "us"),
            (f"sketches.{sk}.blob_bytes", "B"),
        ]
    out += [(f"sketches.{sk}.grouped_build_ns_per_value", "ns") for sk in ("tdigest", "kll")]
    for layer in AGG_LAYERS:
        for m in AGG_MEASURES:
            out.append((f"{layer}.{m}", _unit(m)))
    for arm in TOPOLOGIES:
        out += [
            (f"agg.sketch_by_key.{arm}.s", "s"),
            (f"agg.sketch_by_key.{arm}.shuffle_write_bytes", "B"),
        ]
    for op in API_OPS:
        out += [(f"{op}.s", "s"), (f"{op}.err_over_bound", "ratio")]
    out += [
        ("plans.build_checkpointed.s", "s"),
        ("plans.window_quantiles.s", "s"),
        ("plans.window_quantiles.blobs_merged", "count"),
        ("operators.run_digest.s", "s"),
        ("operators.run_digest.jobs", "count"),
    ]
    out += [(f"control.{c}.s", "s") for c in CONTROLS]
    out += [
        ("trace.op_p50_s", "s"),
        ("trace.op_tail_s", "s"),
        ("session.jvm_peak_rss_mb", "MB"),
    ]
    return out


def _unit(measure: str) -> str:
    if measure.endswith("_bytes"):
        return "B"
    if measure in ("jobs", "tasks"):
        return "count"
    return "s"


def _parse_metric(text: str) -> float:
    """'total (min, med, max ...)\\n1.2 s (...)' or '32.9 MiB' -> base units."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _ts(text: str | None) -> float | None:
    if not text:
        return None
    return (
        datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory spans; each span is a Spark job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self._patched: list[tuple] = []
        self.phase = "setup"

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        sid = len(self.spans)
        op = self.spans[parent]["op"] if parent is not None else sid
        rec = {
            "id": sid, "name": name, "parent": parent, "op": op,
            "group": f"perfbench-{sid}", "start": time.time(), "end": None,
            "phase": self.phase,
            "jobs": [], "m": None,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            if self.stack:
                outer = self.spans[self.stack[-1]]
                self.sc.setJobGroup(outer["group"], outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def install(self):
        for mod, attr, name in LAYERS:
            fn = getattr(mod, attr)
            self._patched.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, name))

    def uninstall(self):
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    def _wrap(self, fn, name):
        def traced(*args, **kwargs):
            if self.stack and self.spans[self.stack[-1]]["name"] == name:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- Spark status REST API --------------------------------------------
    def collect_spark(self, timeout: float = 60.0) -> None:
        """Attach each span's Spark jobs, stage and SQL metrics."""
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

        # no proxy: the UI is this process's own JVM on the loopback
        opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

        def get(path):
            with opener.open(base + path, timeout=30) as r:
                return json.load(r)

        groups = {s["group"]: s for s in self.spans}
        deadline = time.time() + timeout
        while True:
            jobs = get("/jobs")
            ours = [j for j in jobs if j.get("jobGroup") in groups]
            if all(j.get("completionTime") for j in ours) or time.time() > deadline:
                break
            time.sleep(0.5)
        stages = {s["stageId"]: s for s in get("/stages") if s["status"] == "COMPLETE"}
        sql = get("/sql?details=true&planDescription=false&offset=0&length=1000000")
        owner = {}
        for j in sorted(ours, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                owner.setdefault(sid, j["jobId"])
        for s in self.spans:
            s["m"] = dict.fromkeys(
                ("tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
                 *PY_METRICS.values()), 0.0,
            )
        job_span = {}
        for j in ours:
            span = groups[j["jobGroup"]]
            job_span[j["jobId"]] = span
            start, end = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
            if start is not None and end is not None:
                span["jobs"].append((start, end))
        for sid, st in stages.items():
            span = job_span.get(owner.get(sid))
            if span is None:
                continue
            m = span["m"]
            m["tasks"] += st.get("numCompleteTasks", 0)
            m["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            m["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            m["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        for ex in sql:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            spans = [job_span[i] for i in ids if i in job_span]
            if not spans:
                continue
            m = spans[0]["m"]
            for node in ex.get("nodes", []):
                for metric in node.get("metrics", []):
                    key = PY_METRICS.get(metric["name"])
                    if key:
                        m[key] += _parse_metric(metric["value"])

    # -- span arithmetic --------------------------------------------------
    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        return kids

    def subtree(self, sid: int, kids=None) -> list[dict]:
        kids = kids if kids is not None else self._children()
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(self.spans[cur])
            todo.extend(kids.get(cur, ()))
        return out

    def self_times(self, root: int, kids=None) -> float:
        """Sum of self times over ``root``'s tree (spans and jobs), with
        every interval clipped to its parent's."""
        kids = kids if kids is not None else self._children()
        total, todo = 0.0, [(root, self.spans[root]["start"], self.spans[root]["end"])]
        while todo:
            sid, lo, hi = todo.pop()
            children = []
            for c in kids.get(sid, ()):
                cs = self.spans[c]
                s, e = max(lo, cs["start"]), min(hi, cs["end"])
                if e > s:
                    children.append((s, e))
                    todo.append((c, s, e))
            for js, je in self.spans[sid].get("jobs", ()):
                s, e = max(lo, js), min(hi, je)
                if e > s:
                    children.append((s, e))
                    total += e - s
            total += (hi - lo) - _union(children)
        return total

    def measures(self, span: dict, kids=None) -> dict:
        tree = self.subtree(span["id"], kids)
        out = {"s": span["end"] - span["start"]}
        out["jobs"] = float(sum(len(s["jobs"]) for s in tree))
        for key in tree[0]["m"]:
            out[key] = float(sum(s["m"][key] for s in tree))
        lo, hi = span["start"], span["end"]
        jobs = [
            (max(lo, a), min(hi, b)) for s in tree for a, b in s["jobs"] if b > lo and a < hi
        ]
        out["driver_s"] = out["s"] - _union(jobs)
        return out

    def by_name(self, name: str) -> list[dict]:
        """Finished spans called ``name``, set-up spans only when there
        are no others."""
        done = [s for s in self.spans if s["name"] == name and s["end"] is not None]
        steady = [s for s in done if s["phase"] != "setup"]
        return steady or done

    def measured(self, name: str, kids=None) -> list[dict]:
        return [self.measures(s, kids) for s in self.by_name(name)]

    def dump(self, path: str) -> None:
        """Write every span, with its Spark jobs and metrics, as JSON."""
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def sketch_micro(truth, rng) -> dict:
    """Driver-side update/merge/serialize costs on a fixed sample."""
    idx = rng.choice(truth.n, size=min(SKETCH_SAMPLE, truth.n), replace=False)
    nums = pd.Series(truth.rows["len"].to_numpy(np.float64)[idx])
    keys = pd.Series(truth.rows["conv_id"].to_numpy()[idx])
    kinds = {
        "tdigest": (lambda: TDigest(oracle.TDIGEST_DELTA), nums),
        "kll": (lambda: KLL(200), nums),
        "hll": (lambda: HLL(oracle.HLL_P), keys),
        "countmin": (lambda: CountMin.from_error(0.001, 0.01), keys),
    }
    out = {}
    for name, (factory, vals) in kinds.items():
        half = len(vals) // 2
        cls = type(factory())
        t_upd, t_merge, t_ser, t_de = [], [], [], []
        for _ in range(SKETCH_REPS):
            t0 = time.perf_counter()
            sk = factory().update(vals)
            t_upd.append(time.perf_counter() - t0)
            a = factory().update(vals[:half])
            b = factory().update(vals[half:])
            t0 = time.perf_counter()
            a.merge(b)
            t_merge.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            blob = sk.serialize()
            t_ser.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            cls.deserialize(blob)
            t_de.append(time.perf_counter() - t0)
        out[f"sketches.{name}.update_ns_per_value"] = _median(t_upd) / len(vals) * 1e9
        out[f"sketches.{name}.merge_us"] = _median(t_merge) * 1e6
        out[f"sketches.{name}.serialize_us"] = _median(t_ser) * 1e6
        out[f"sketches.{name}.deserialize_us"] = _median(t_de) * 1e6
        out[f"sketches.{name}.blob_bytes"] = float(len(blob))
    # bulk tiny-group builders on conv_id-sorted values (truth rows are
    # in conv_id order; values sorted within each conversation)
    head = truth.rows.iloc[:SKETCH_SAMPLE]
    codes = pd.factorize(head["conv_id"])[0]
    v = head["len"].to_numpy(np.float64)
    order = np.lexsort((v, codes))
    codes, v = codes[order], v[order]
    starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
    ends = np.r_[starts[1:], codes.size]
    for name, proto in (("tdigest", TDigest(oracle.TDIGEST_DELTA)), ("kll", KLL(200))):
        ts = []
        for _ in range(SKETCH_REPS):
            t0 = time.perf_counter()
            proto.serialize_sorted_groups_like(v, starts, ends)
            ts.append(time.perf_counter() - t0)
        out[f"sketches.{name}.grouped_build_ns_per_value"] = _median(ts) / v.size * 1e9
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_usage(*dirs) -> tuple[int, int]:
    size = files = 0
    for d in dirs:
        for root, _, names in os.walk(d):
            for n in names:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def run_probes(tracer, runner, spark, wl, inputs, truth, checker, rng, work) -> dict:
    """One call of every layer the per-layer metrics name, each in a span.

    Ops run through ``runner`` (a span each, answers checked); the fact
    and leaf workload objects are built here when ``wl``, the workload
    under test, is another one."""
    df = spark.read.parquet(inputs.transcripts)
    length = F.length("text")
    extra = {}

    with tracer.span("sources.scan_floor"):
        _noop(df.select(length.alias("n"), "conv_id", "turn_idx", "role", "tool", "ts"))
    with tracer.span("agg.sketch_by_key"):
        _noop(agg.sketch_by_key(df, ["conv_id"], length, workloads._tdigest))
    sliced = df.where(F.pmod(F.xxhash64("conv_id"), F.lit(TOPOLOGY_SLICE)) == 0)
    for arm in TOPOLOGIES:
        with tracer.span(f"agg.sketch_by_key.{arm}"):
            _noop(agg.sketch_by_key(sliced, ["conv_id"], length, workloads._tdigest, method=arm))

    # every api op once, with its check
    for cls in (workloads.FactScan, workloads.PerConversation):
        obj = wl if isinstance(wl, cls) else cls(spark, inputs, truth, checker, rng, work)
        runner.run_round(obj, 0, record=False)

    # the leaf store: staged here unless the workload already did
    leaf = wl
    if not isinstance(wl, workloads.LeafRollup):
        leaf = workloads.LeafRollup(spark, inputs, truth, checker, rng, work)
        leaf.stage()
    for i in range(3):
        runner.run_round(leaf, i, record=False)
    leaf.compact()
    lo, hi = leaf.windows[0]
    blobs, _ = sketch_table.read_sketch_table(spark, leaf.leaf_dir, "hll", {"p": oracle.HLL_P})
    blobs = blobs.where((F.col("day") >= lo) & (F.col("day") <= hi))
    with tracer.span("agg.merge_blobs_by_key"):
        agg.merge_blobs_by_key(blobs, ["role"], workloads._hll).collect()
    extra["plans.window_quantiles.blobs_merged"] = float(
        sum(lo <= k <= hi for k in leaf.store.completed_partitions())
    )
    size, files = _dir_usage(leaf.store.dir, leaf.leaf_dir)
    extra["sources.leaf_store_bytes"] = float(size)
    extra["sources.leaf_store_files"] = float(files)
    extra["sources.leaf_store_bytes_per_row"] = size / truth.n
    extra["sources.input_bytes"] = float(os.path.getsize(inputs.transcripts))

    # JVM control arms: Spark's built-in aggregates over the same columns
    n = length.cast("double")
    qs = [F.lit(q) for q in workloads.GROUP_QS]
    controls = {
        "percentile_approx": lambda: df.select(F.percentile_approx(length, workloads.QS)).collect(),
        "kll_sketch_agg_double": lambda: df.select(
            F.kll_sketch_get_quantile_double(F.kll_sketch_agg_double(n), F.array(*qs))
        ).collect(),
        "hll_sketch_agg": lambda: df.select(
            F.hll_sketch_estimate(F.hll_sketch_agg("conv_id", oracle.HLL_P))
        ).collect(),
        "count_min_sketch": lambda: df.select(
            F.count_min_sketch(F.col("tool"), F.lit(0.001), F.lit(0.99), F.lit(1))
        ).collect(),
        "kll_sketch_agg_double_by_conv": lambda: _noop(
            df.groupBy("conv_id").agg(
                F.kll_sketch_get_quantile_double(F.kll_sketch_agg_double(n), F.array(*qs))
            )
        ),
        "percentile_approx_by_conv": lambda: _noop(
            df.groupBy("conv_id").agg(F.percentile_approx(length, workloads.GROUP_QS))
        ),
    }
    for name, call in controls.items():
        with tracer.span(f"control.{name}"):
            call()

    extra.update(sketch_micro(truth, rng))
    return extra


def per_layer(tracer, extra, checker, setup_session_s) -> dict:
    """Fold spans and probe extras into the per-layer metric dict."""
    kids = tracer._children()
    out = dict(extra)
    out["session.get_spark.s"] = setup_session_s
    for layer in AGG_LAYERS:
        rows = tracer.measured(layer, kids)
        for m in AGG_MEASURES:
            out[f"{layer}.{m}"] = _median([r[m] for r in rows])
    for arm in TOPOLOGIES:
        rows = tracer.measured(f"agg.sketch_by_key.{arm}", kids)
        out[f"agg.sketch_by_key.{arm}.s"] = _median([r["s"] for r in rows])
        out[f"agg.sketch_by_key.{arm}.shuffle_write_bytes"] = _median(
            [r["shuffle_write_bytes"] for r in rows]
        )
    for op in API_OPS:
        out[f"{op}.err_over_bound"] = checker.worst.get(op, 0.0)
    timed = [
        "sources.scan_floor", "sources.write_transcripts_table",
        "sources.write_sketch_table", "sources.read_sketch_table",
        "sources.compact_sketch_table", "plans.build_checkpointed",
        "plans.window_quantiles", "operators.run_digest",
        *API_OPS, *[f"control.{c}" for c in CONTROLS],
    ]
    for name in timed:
        out[f"{name}.s"] = _median([s["end"] - s["start"] for s in tracer.by_name(name)])
    out["operators.run_digest.jobs"] = _median(
        [r["jobs"] for r in tracer.measured("operators.run_digest", kids)]
    )
    return out


def span_residual_s(tracer, op_spans) -> float:
    """Largest gap between an op's wall time and its tree's self times."""
    kids = tracer._children()
    return max(
        (
            abs(tracer.self_times(sid, kids) - (tracer.spans[sid]["end"] - tracer.spans[sid]["start"]))
            for sid in op_spans
        ),
        default=0.0,
    )

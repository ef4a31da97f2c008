#!/usr/bin/env python3
"""Closed-loop benchmark of the tgdigest_spark public API.

One client in one process on ``local[<cores>]`` calls the workload's
ops round after round, in a fixed order, until ``--seconds`` have passed
(the last round is finished). Every answer is checked against an exact
oracle outside the timed region. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer ones with
``--trace 1``). See ``perfbench/README.md``.

    python3 perfbench/run.py --workload fact_scan --seed 1 --seconds 20 --trace 0
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ("fact_scan", "per_conversation", "leaf_rollup")
RSS_INTERVAL_S = 0.2
RSS_RESCAN = 5

END_TO_END = [
    ("setup_s", "s"),
    ("rows_per_s", "rows/s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("peak_rss_mb", "MB"),
]


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def _process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(p for p, pp in parent.items() if pp == pid)
    return tree


def _rss_bytes(pid: int) -> tuple[int, bool]:
    """(resident bytes, is a JVM); (0, False) once the process is gone."""
    try:
        with open(f"/proc/{pid}/statm") as fh:
            rss = int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/comm") as fh:
            return rss, fh.read().strip() == "java"
    except OSError:
        return 0, False


class PeakRss:
    """Background sampler of the process tree's summed RSS, split into
    the JVM and the Python processes (driver and workers); the tree is
    re-listed every ``RSS_RESCAN`` samples."""

    def __init__(self):
        self.peak_jvm = self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        n, tree = 0, []
        while not self._stop.is_set():
            if n % RSS_RESCAN == 0:
                tree = _process_tree(os.getpid())
            n += 1
            sizes = [_rss_bytes(pid) for pid in tree]
            self.peak_jvm = max(self.peak_jvm, sum(r for r, jvm in sizes if jvm))
            self.peak_python = max(self.peak_python, sum(r for r, jvm in sizes if not jvm))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def start_session(run_dir: str, trace: bool):
    from tgdigest_spark import pyfiles
    from tgdigest_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
    }
    if trace:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    spark = get_spark("perfbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf)
    pyfiles.ensure_shipped(spark)
    return spark


def _start_time(pid: int) -> int | None:
    """The process's start time (clock ticks since boot), None once it
    has exited; with the pid it names one process, never a later one
    that reuses the pid."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else int(fields[19])


def shutdown_jvm() -> None:
    """Stop the active session, then the JVM this process launched, and
    wait for it and every process under it (the Python workers) to
    exit; what is still alive after 30 s is killed."""
    from pyspark import SparkContext

    descendants = [(p, _start_time(p)) for p in _process_tree(os.getpid())[1:]]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    alive = [p for p, t in descendants if t is not None and _start_time(p) == t]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p, t in descendants if t is not None and _start_time(p) == t]
    for pid in alive:
        os.kill(pid, signal.SIGKILL)


def loop_metrics(samples) -> dict:
    """rows_per_s, op_p50_s and op_tail_s from (op, kind, rows, seconds)
    samples.

    Every metric is built from each op's median time in the run, so one
    stalled call moves it no more than it moves a median. rows_per_s:
    rows of all calls over the calls' time at their op's median (write
    ops when the workload writes, else reads); op_p50_s: the geometric
    mean of the read ops' medians; op_tail_s: the largest of them (the
    slowest op in the mix).
    """
    import numpy as np

    by_op: dict[tuple, list] = {}
    for name, kind, rows, dt in samples:
        by_op.setdefault((name, kind), []).append((rows, dt))
    reads = [c for (_, kind), c in by_op.items() if kind == "read"]
    writes = [c for (_, kind), c in by_op.items() if kind == "write"]
    base = writes or reads
    rows = sum(r for calls in base for r, _ in calls)
    busy = sum(len(c) * np.median([dt for _, dt in c]) for c in base)
    medians = [float(np.median([dt for _, dt in c])) for c in reads]
    return {
        "rows_per_s": float(rows / busy),
        "op_p50_s": float(np.exp(np.mean(np.log(medians)))),
        "op_tail_s": max(medians),
    }


class Runner:
    """Times ops, checks answers, counts failures."""

    def __init__(self, tracer=None):
        self.samples: list[tuple[str, str, int, float]] = []
        self.failed = 0
        self.errors = 0
        self.tracer = tracer
        self.op_spans: list[int] = []

    def run_round(self, wl, i: int, record: bool, until: float = float("inf")) -> float:
        """Run round ``i``, or its ops up to the first that ends after
        ``until`` (a perf_counter time); returns the summed op time."""
        t_round = 0.0
        for op in wl.round(i):
            if time.perf_counter() >= until:
                break
            ok = True
            t0 = time.perf_counter()
            try:
                if self.tracer is None:
                    ans = op.call()
                else:
                    with self.tracer.span(op.name) as rec:
                        ans = op.call()
                    self.op_spans.append(rec["id"])
            except Exception:
                log(f"op {op.name} raised:\n{traceback.format_exc()}")
                ok, ans = False, None
            dt = time.perf_counter() - t0
            t_round += dt
            if ok:
                try:
                    ok = bool(op.check(ans))
                except Exception:
                    log(f"check of {op.name} raised:\n{traceback.format_exc()}")
                    ok = False
            if not ok:
                log(f"op {op.name} missed its bound or failed (round {i})")
                self.errors += 1
            if record:
                self.samples.append((op.name, op.kind, op.rows, dt))
                self.failed += not ok
        return t_round


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.05, help="transcripts scale factor")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "tgdigest_spark")):
        log(f"no tgdigest_spark package beside {HERE}; run from a full checkout")
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    cache_dir = os.path.join(WORK, "cache")
    for d in (run_dir, cache_dir, os.path.join(WORK, "tmp")):
        os.makedirs(d, exist_ok=True)
    # every temp file (the shipped package zip, Spark's block manager,
    # the JVMs' temp and perf-data files) stays inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    ).strip()
    # import the package and the checkout's library, not modules by bare
    # name from this directory
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    try:
        with PeakRss() as rss:
            result = _run(args, run_dir, cache_dir, rss)
    finally:
        if "pyspark" in sys.modules:
            shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, run_dir, cache_dir, rss):
    import numpy as np

    from perfbench import oracle, workloads

    trace = bool(args.trace)
    t0 = time.perf_counter()
    inputs = workloads.stage_inputs(
        cache_dir, args.sf, args.seed, posts=trace or args.workload == "leaf_rollup"
    )
    log(f"inputs ready in {time.perf_counter() - t0:.1f} s: {inputs}")

    checker = oracle.Checker()
    tracer = None
    t0 = time.perf_counter()
    spark = start_session(run_dir, trace)
    session_s = time.perf_counter() - t0
    log(
        "session: spark.ui.enabled="
        f"{spark.conf.get('spark.ui.enabled')} uiWebUrl={spark.sparkContext.uiWebUrl}"
    )
    if trace:
        from perfbench import tracing as tr

        tracer = tr.Tracer(spark)
        tracer.install()
    runner = Runner(tracer)

    t0 = time.perf_counter()
    truth = workloads.load_truth(spark, inputs, cache_dir)
    rng = np.random.default_rng(args.seed)
    wl = workloads.WORKLOADS[args.workload](
        spark, inputs, truth, checker, rng, run_dir
    )
    log(f"oracle ready in {time.perf_counter() - t0:.1f} s ({truth.n} rows)")

    t0 = time.perf_counter()
    wl.stage()
    staging_s = time.perf_counter() - t0
    warm_s = runner.run_round(wl, 0, record=False)
    setup_s = session_s + staging_s + warm_s
    log(f"setup: session {session_s:.2f} s, staging {staging_s:.2f} s, warm round {warm_s:.2f} s")

    if tracer is not None:
        tracer.phase = "run"
    # whole rounds until --seconds have passed, then the current round
    # up to the first op that ends after it; at least one round
    t_end = time.perf_counter() + args.seconds
    round_s = [runner.run_round(wl, 0, record=True)]
    while time.perf_counter() < t_end:
        round_s.append(runner.run_round(wl, len(round_s), record=True, until=t_end))
    log(f"measured {len(runner.samples)} ops in {len(round_s)} rounds; "
        f"round times {[round(r, 2) for r in round_s]}")

    loop = loop_metrics(runner.samples)

    if trace:
        from perfbench import tracing as tr

        tracer.phase = "probe"
        extra = tr.run_probes(
            tracer, runner, spark, wl, inputs, truth, checker, rng, run_dir
        )
        tracer.uninstall()
        tracer.collect_spark()
        spans_path = os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.json")
        tracer.dump(spans_path)
        log(f"{len(tracer.spans)} spans written to {spans_path}")
        metrics = tr.per_layer(tracer, extra, checker, session_s)
        residual = tr.span_residual_s(tracer, runner.op_spans)
        log(f"span self times vs op wall: largest gap {residual:.6f} s")
        if residual > 1e-3:
            runner.errors += 1
        metrics["trace.op_p50_s"] = loop["op_p50_s"]
        metrics["trace.op_tail_s"] = loop["op_tail_s"]
        metrics["session.jvm_peak_rss_mb"] = rss.peak_jvm / 2**20
        units = dict(tr.per_layer_names())
    else:
        metrics = {
            "setup_s": setup_s,
            **loop,
            "peak_rss_mb": rss.peak_python / 2**20,
        }
        units = dict(END_TO_END)
    log(f"peak rss MB: jvm {rss.peak_jvm / 2**20:.0f}, python {rss.peak_python / 2**20:.0f}")
    log(f"misses per op: {checker.misses or 'none'}; worst err/bound: "
        + json.dumps({k: round(v, 3) for k, v in checker.worst.items()}))
    result = {
        "correct": runner.errors == 0 and not checker.misses,
        "attempted": len(runner.samples),
        "failed": runner.failed,
        "metrics": {
            name: {"value": float(metrics[name]), "unit": unit}
            for name, unit in units.items()
        },
    }
    return result


if __name__ == "__main__":
    sys.exit(main())

"""The Python worker's import-cache reset runs only when sys.path changed
(tgdigest_spark._worker), and the engine ships itself to executors on
first use."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import types
import uuid
import zipfile

import pandas as pd
import pytest

from tgdigest_spark import _worker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _CountingImportlib:
    def __init__(self):
        self.calls = 0
        self.marker = "forwarded"

    def invalidate_caches(self):
        self.calls += 1


def test_proxy_invalidates_only_when_sys_path_changes(monkeypatch, tmp_path):
    real = _CountingImportlib()
    proxy = _worker._ImportlibProxy(real)
    assert proxy.marker == "forwarded"  # every other attribute forwards
    proxy.invalidate_caches()
    assert real.calls == 0  # seeded with sys.path at install time
    monkeypatch.syspath_prepend(str(tmp_path))
    proxy.invalidate_caches()
    assert real.calls == 1
    proxy.invalidate_caches()
    assert real.calls == 1


def test_install_is_idempotent_and_checks_the_shape(monkeypatch):
    monkeypatch.delitem(sys.modules, "pyspark.worker_util", raising=False)
    assert _worker.install() is False  # not in a worker: nothing to patch

    wu = types.ModuleType("pyspark.worker_util")
    wu.importlib = importlib
    monkeypatch.setitem(sys.modules, "pyspark.worker_util", wu)
    assert _worker.install() is True
    proxy = wu.importlib
    assert isinstance(proxy, _worker._ImportlibProxy)
    assert _worker.install() is True
    assert wu.importlib is proxy  # not wrapped twice

    bare = types.ModuleType("pyspark.worker_util")
    monkeypatch.setitem(sys.modules, "pyspark.worker_util", bare)
    assert _worker.install() is False
    assert not hasattr(bare, "importlib")

    other = types.ModuleType("pyspark.worker_util")
    other.importlib = object()
    monkeypatch.setitem(sys.modules, "pyspark.worker_util", other)
    before = other.importlib
    assert _worker.install() is False
    assert other.importlib is before


def _worker_state(spark, extra_import: str | None = None) -> pd.DataFrame:
    """Per task: worker pid, the type worker_util.importlib holds at the
    start of the task's own code, and (optionally) a module imported
    there."""

    def probe(batches):
        import pyspark.worker_util as wu

        held = type(wu.importlib).__name__
        import tgdigest_spark  # noqa: F401 — what every engine kernel does

        got = ""
        if extra_import:
            got = importlib.import_module(extra_import).VALUE
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"pid": [os.getpid()], "held": [held], "got": [got]}
        )

    return (
        spark.range(0, 64, numPartitions=8)
        .mapInPandas(probe, "pid long, held string, got string")
        .toPandas()
    )


def test_workers_hold_the_proxy_after_one_task(spark):
    first = _worker_state(spark)
    second = _worker_state(spark)
    # each reused worker imported the package on its earlier task
    reused = second[second["pid"].isin(first["pid"])]
    assert len(reused), (first, second)
    assert (reused["held"] == "_ImportlibProxy").all(), second


@pytest.mark.parametrize("kind", ["zip", "py"])
def test_pyfile_added_after_install_still_imports(spark, tmp_path, kind):
    """A zip grows sys.path, so the proxy runs the real reset; a .py
    file lands in the SparkFiles directory already on sys.path, whose
    finder sees the directory's new mtime by itself."""
    before = _worker_state(spark)
    name = f"hook_probe_{kind}_{uuid.uuid4().hex[:8]}"
    src = "VALUE = 'shipped-after-install'\n"
    if kind == "zip":
        path = tmp_path / f"{name}.zip"
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(f"{name}.py", src)
    else:
        path = tmp_path / f"{name}.py"
        path.write_text(src)
    spark.sparkContext.addPyFile(str(path))
    after = _worker_state(spark, extra_import=name)
    assert (after["got"] == "shipped-after-install").all(), after
    # the same, already-patched workers took the new include
    reused = after[after["pid"].isin(before["pid"])]
    assert len(reused), (before, after)
    assert (reused["held"] == "_ImportlibProxy").all(), after


_FOREIGN_CWD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from tgdigest_spark import agg
from tgdigest_spark.session import get_spark
from tgdigest_spark.sketches.tdigest import TDigest

def session():
    return get_spark("foreign-cwd", cores=2, shuffle_partitions=2)

spark = session()
td = agg.sketch_column(spark.range(100).toDF("v"), "v", TDigest)
assert td.count == 100, td.count
spark.stop()

spark = session()
df = spark.range(100).selectExpr("id % 3 AS k", "id AS v")
rows = agg.sketch_by_key(df, ["k"], "v", TDigest).collect()
assert len(rows) == 3, rows
spark.stop()

spark = session()
blob = TDigest().update([1.0, 2.0]).serialize()
blobs = spark.createDataFrame([(1, blob), (1, blob)], "k int, sketch binary")
rows = agg.merge_blobs_by_key(blobs, ["k"], TDigest).collect()
assert TDigest.deserialize(bytes(rows[0]["sketch"])).count == 4
spark.stop()
print("OK")
"""


def test_builders_ship_the_package_from_a_foreign_cwd(tmp_path):
    """Called from outside the repo without ``ensure_shipped``, each
    engine builder ships the package itself; executors used to raise
    ModuleNotFoundError: tgdigest_spark."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(_FOREIGN_CWD_SCRIPT.format(repo=REPO))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "OK" in proc.stdout, proc.stderr[-4000:]

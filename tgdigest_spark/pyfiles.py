"""Ship the tgdigest_spark package to executors at runtime.

Production path is ``spark-submit --py-files tgdigest_spark.zip``
(north_rule); for sessions we didn't launch (the driver harness,
notebooks) ``ensure_shipped(spark)`` builds the same zip and registers
it via ``SparkContext.addPyFile`` so Python workers can unpickle UDF
closures that reference the package, regardless of the driver's cwd.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_SENT = "_tgdigest_pyfiles_shipped"


def build_zip(out_path: str | None = None) -> str:
    """Zip the package (source only) for --py-files / addPyFile."""
    if out_path is None:
        # per-user, per-source-tree default name: a shared-tempdir path
        # collides across users on one host (the first user's file
        # blocks the others), and two checkouts sharing one name would
        # ship whichever tree zipped last (the mtime check below only
        # compares against the caller's own tree)
        uid = os.getuid() if hasattr(os, "getuid") else "u"
        tree = hashlib.sha1(_PKG_DIR.encode()).hexdigest()[:10]
        out_path = os.path.join(
            tempfile.gettempdir(), f"tgdigest_spark-{uid}-{tree}.zip"
        )
    src_mtime = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(_PKG_DIR)
        for f in files
        if f.endswith(".py")
    )
    if os.path.exists(out_path) and os.path.getmtime(out_path) >= src_mtime:
        return out_path
    # per-process unique temp name: two drivers racing on a fixed .tmp
    # path could ship a corrupt/partial zip to executors
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(out_path) or ".", suffix=".zip.tmp"
    )
    os.close(fd)
    try:
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _, files in os.walk(_PKG_DIR):
                for f in sorted(files):
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "tgdigest_spark", os.path.relpath(full, _PKG_DIR)
                        )
                        zf.write(full, rel)
        os.replace(tmp, out_path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    return out_path


def ensure_shipped(spark) -> None:
    """Idempotently make the package importable on executors."""
    try:
        sc = spark.sparkContext
    except Exception:  # pragma: no cover — Spark Connect: no SparkContext
        return
    if getattr(sc, _SENT, False):
        return
    if not os.path.isdir(_PKG_DIR):
        # the package was itself imported from a --py-files zip: it is
        # already shipped (and there is no source tree to re-zip)
        setattr(sc, _SENT, True)
        return
    sc.addPyFile(build_zip())
    setattr(sc, _SENT, True)

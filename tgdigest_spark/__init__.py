"""tgdigest_spark — a PySpark-native distributed sketch / approximate
aggregation engine with the query capabilities of mrfeod/tgdigest.

Built from scratch on pyspark.sql DataFrame + vectorized pandas/Arrow
UDFs (zero per-row Python in hot paths). See SURVEY.md for the full
operator inventory and the mapping to the reference implementation.

Subpackages
-----------
sketches    pure numpy sketch cores: t-digest, KLL, HLL, count-min, Bloom
operators   digest query semantics (top-k, dedup, calendar), dedup family,
            similarity search, text analysis
sources     readers/writers for the transcript and posts tables
functions   scalar helpers (week-of-month, formatting, entity spans)
plans       incremental per-partition sketch checkpoints + lineage
streaming   structured-streaming sketch maintenance
"""

import sys as _sys

__version__ = "0.1.0"

if "pyspark.worker_util" in _sys.modules:  # imported inside a Python worker
    from . import _worker

    _worker.install()

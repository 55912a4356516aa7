"""Python-worker daemon with the engine's hot imports pre-loaded.

Spark's Python workers are forked from a long-lived daemon process
(`pyspark.daemon`). The stock daemon imports only pyspark itself, so the
FIRST Arrow-batched task in every freshly forked worker pays the
pandas + pyarrow import (~0.5 s). Under the crawl's concurrent staging
pool that fork-and-import happens repeatedly mid-iteration (worker
reuse misses under churn: many short Python stages from ~10 concurrent
jobs), which showed up in the event logs as ~+10 core-s per concurrent
Python stage at local[8] (event logs read with tools/stage_profile.py).

Importing the heavy modules HERE — once, in the daemon, before any
fork — makes every worker inherit them through fork's copy-on-write
page sharing: a new worker costs a fork(2), not an import storm. This
is the documented `spark.python.daemon.module` extension point
(python/pyspark/daemon.py); engine_conf() wires it up and exports the
repo root on PYTHONPATH so executor-side processes can import this
module both in local mode and under spark-submit --py-files.

The imports are best-effort: a worker environment without pandas would
still run every non-Arrow task, so failures here must never break the
daemon protocol (stdout is the fd handshake channel — nothing may print).
"""

try:  # pragma: no cover - trivial import shims
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.sql.pandas.types  # noqa: F401
except Exception:  # pragma: no cover
    pass

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()

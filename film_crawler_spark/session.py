"""SparkSession factory with the engine's standard configuration.

Defaults are tuned for the sandbox (local[N], 32 cores) but every knob is
chosen to survive a 1000-executor cluster: AQE on (runtime re-plan + skew
join splitting), Arrow for every Python boundary, UTC session timezone so
DuckDB-oracle comparisons are stable, shuffle partitions sized to the
parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# One BLAS thread per Python worker: Spark already parallelizes across
# workers (one per core), and the engine's NumPy kernels are tiny (8x8
# DCT blocks, 32x32 phash). Multi-threaded BLAS here is pure oversubscription
# — measured: 32 workers x 32 OpenBLAS threads made the blob-decode stage
# 5x SLOWER at local[32] than at local[8], inverting the scaling curve.
BLAS_PINNING = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}


def engine_conf(shuffle_partitions: int | str = "32") -> dict[str, str]:
    """The engine's standard Spark configuration, usable both from
    get_spark() and from an externally-owned session (spark-submit)."""
    conf = {f"spark.executorEnv.{k}": v for k, v in BLAS_PINNING.items()}
    # local mode: python workers fork from this very process — pin the
    # driver env too (harmless on a real cluster)
    for k, v in BLAS_PINNING.items():
        os.environ.setdefault(k, v)
    # Warm worker daemon (daemon_warm docstring): workers fork with
    # pandas/pyarrow already imported, so worker-pool churn under the
    # crawl's concurrent staging jobs costs a fork, not an import storm.
    # The repo root rides PYTHONPATH so the daemon module resolves in
    # executor-side processes (PythonWorkerFactory merges the system
    # PYTHONPATH + spark.executorEnv.PYTHONPATH into the worker env).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + py_path if py_path else "")
        )
    conf["spark.executorEnv.PYTHONPATH"] = os.environ["PYTHONPATH"]
    conf["spark.python.daemon.module"] = "film_crawler_spark.daemon_warm"
    conf.update({
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # image rows are fat (tens of KB of binary per row): bound BOTH
        # batch shapes by ROW COUNT so a batch stays ~20-40 MB — the
        # default 4096-row columnar batches OOM the vectorized parquet
        # reader on binary columns (4096 x 20 KB x n_tasks)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
        "spark.sql.parquet.columnarReaderBatchSize": "512",
        # same fat-row rationale for the dataframe CACHE: default 10000-row
        # cache batches hold ~200 MB of blob bytes each while building;
        # 1024 keeps builder allocations bounded and makes batch-stat
        # pruning (kind-sorted cache, see crawl_loop) fine-grained
        "spark.sql.inMemoryColumnarStorage.batchSize": "1024",
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    })
    # opt-in event logging for offline profiling: SPARK_GRAFT_EVENTLOG=<dir>,
    # then tools/stage_profile.py reports executor time per crawl stage
    # (jobs carry it=<i>/<stage> descriptions), the top Spark stages and
    # the idle-core windows — how the round-1/2 perf bugs (cache convoys,
    # UDF recompute, BLAS oversubscription) were pinpointed.
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev_dir:
        ev_dir = os.path.abspath(ev_dir)
        os.makedirs(ev_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{ev_dir}",
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        })
    return conf


def get_spark(
    app_name: str = "film_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32) so
    tests and bench share one entry point. On a real cluster, pass
    ``master=None`` with ``spark-submit`` owning the master URL — the
    builder only sets master when one is requested explicitly or no
    active session exists.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~1 partition per core locally; a real deployment overrides via
        # spark-submit conf (AQE coalesces the excess anyway).
        n = cpus if master.startswith("local") else "200"
        try:
            shuffle_partitions = int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else int(n)
        except ValueError:
            shuffle_partitions = 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in engine_conf(shuffle_partitions).items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def warmup(spark: SparkSession) -> None:
    """Pre-fork the Python worker pool and JIT the Arrow serialization
    path: one trivial mapInPandas task per core. On a real cluster the
    executors and their worker pools are long-lived across jobs; in a
    fresh local JVM the first Python stage otherwise pays worker fork +
    pandas import once per core, which belongs to environment spin-up,
    not to crawl throughput (bench calls this before starting its clock,
    like the query-suite warmup). Worker-pool CHURN (concurrent staging
    jobs forking extra workers mid-iteration) is handled at the root by
    the warm daemon module (``daemon_warm``, see engine_conf): a freshly
    forked worker inherits the heavy imports from the daemon process."""
    n = spark.sparkContext.defaultParallelism

    def _noop(batches):
        for pdf in batches:
            yield pdf

    spark.range(n * 8).repartition(n).mapInPandas(_noop, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

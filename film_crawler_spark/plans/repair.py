"""Targeted repair: re-enqueue the dead-letter backlog (T5).

The reference ships dedicated repair spiders that replay ``remain.csv``
— the append-only log of downloads whose retry budget ran out
(reference main.py:95-115 dispatching repair_img/repair_video over
spiders.py:3900-4281, remain.csv rows written at 2995-2998, 4278-4281).

The engine's dead_letter table carries the full frontier identity of
every exhausted URL, so repair is a derived frontier query, not a
special crawl mode:

* take the latest dead-letter row per canon_url (retries accumulate:
  ``attempts`` is preserved, so a URL that 500-exhausted at attempt k
  resumes at k+1 — the deterministic analogue of "the transient failure
  healed by the time the operator re-ran the repair spider");
* drop URLs that SUCCEEDED in a later iteration already (a retried row
  can both fail in it=i and succeed in it=j>i);
* union with whatever is still pending, commit as a fresh frontier
  snapshot (staged by the crawl loop's counted frontier stage, so the
  manifest carries the ``stages`` trace and the per-kind pending hints
  the next iteration's dequeue-skip proof reads), and let the ordinary
  crawl loop drain it. Ordering, budget and politeness all apply unchanged
  because repair rows keep their original (priority, seq).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from film_crawler_spark.operators import frontier as FR
from film_crawler_spark.operators.fetch import empty_fetch_log
from film_crawler_spark.plans.crawl_loop import (
    CrawlConfig, _commit, _dead_letter, _job_label, _run_stages, _stage_frontier, run_crawl,
)
from film_crawler_spark.sources.tableio import TableIO


def build_repair_frontier(io: TableIO, cfg: CrawlConfig, next_it: int) -> DataFrame | None:
    """Frontier rows for every dead-lettered URL that never later
    succeeded. None when there is nothing to repair. Both logs are read
    with the schemas of the plans that stage them (no inference job)."""
    flog = empty_fetch_log(io.spark)
    dead = io.read_log("dead_letter", schema=_dead_letter(flog, 0).schema)
    if dead is None:
        return None
    # latest attempt per canon_url (a URL can die in several iterations);
    # iteration breaks attempts ties so the pick is deterministic
    w = Window.partitionBy("canon_url").orderBy(
        F.col("attempts").desc(), F.col("iteration").desc()
    )
    latest = dead.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    # exclude URLs that eventually fetched OK
    succeeded = io.read_log("fetch_log", schema=flog.schema).filter(F.col("status") == 200).select("canon_url")
    todo = latest.join(succeeded, "canon_url", "left_anti")
    return todo.withColumn("discovered_at_iter", F.lit(next_it)).select(*FR.FRONTIER_COLS)


def run_repair(spark: SparkSession, cfg: CrawlConfig, progress: bool = False) -> dict:
    """Inject the repair backlog as a new frontier snapshot and drain it
    with the ordinary crawl loop. No-op (empty result) when the
    dead-letter log is clean."""
    io = TableIO(spark, cfg.warehouse)
    last = io.last_committed()
    if last is None:
        raise RuntimeError("nothing to repair: no committed crawl in this warehouse")
    next_it = last + 1
    t0 = time.time()
    with _job_label(spark.sparkContext, f"it={next_it}/plan"):
        repair_rows = build_repair_frontier(io, cfg, next_it)
        if repair_rows is None:
            return {"iterations": [], "total_wall_s": 0.0}
        # the schema an iteration stages the frontier with (FR.remaining
        # puts its keys first): no inference job, same column order
        empty = spark.createDataFrame([], FR.FRONTIER_SCHEMA)
        pending = io.read_snapshot("frontier", upto=last, schema=FR.remaining(empty, empty).schema)
    merged = pending.unionByName(repair_rows) if pending is not None else repair_rows
    # the crawl loop's counted frontier stage: the row count rides the write
    res, spans = _run_stages(spark.sparkContext, next_it, t0, [
        ("frontier", lambda: _stage_frontier(io, next_it, merged), ()),
    ])
    _commit(io, next_it, ["frontier"], {"repair_enqueued": res["frontier"]["pending_next"],
                                        **res["frontier"], "stages": spans, "decisions": {}})
    if cfg.max_iterations <= next_it + 1:
        cfg = CrawlConfig(**{**cfg.__dict__, "max_iterations": next_it + 1 + cfg.max_iterations})
    return run_crawl(spark, [], cfg, progress=progress)

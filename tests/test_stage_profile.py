"""tools/stage_profile.py: the offline event-log profiler parses Spark 4
rolling (v2, zstd) event logs and attributes executor time, shuffle
bytes and task counts per Spark stage and per ``it=<i>/<stage>`` job
label, and finds the idle-core windows. The workload runs its jobs
through the crawl loop's stage runner in a subprocess, because event
logging is builder-time conf (the shared test session can't be
reconfigured)."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = """
import sys, time; sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from film_crawler_spark.plans.crawl_loop import _run_stages
from film_crawler_spark.session import get_spark
spark = get_spark(master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
res, _ = _run_stages(spark.sparkContext, 0, time.time(), [
    ("group", lambda: spark.range(50000).withColumn("k", F.col("id") % 13).groupBy("k").count().count(), ()),
    ("scan", lambda: spark.range(1000).count(), ()),
])
assert res["group"] == 13
spark.stop()
"""


def test_stage_profile_aggregates_event_log(tmp_path):
    ev_dir = str(tmp_path / "events")
    env = {**os.environ, "SPARK_GRAFT_EVENTLOG": ev_dir}
    subprocess.run(
        [sys.executable, "-c", JOB.format(repo=REPO)],
        check=True, env=env, cwd=REPO, timeout=300,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from stage_profile import by_label, idle_windows, scan

    res = scan(ev_dir)
    rows = res["stages"]
    assert rows, "no stages parsed from the event log"
    # the groupBy ran: at least two stages (map + reduce), tasks counted,
    # and the output is sorted by executor run time descending
    assert len(rows) >= 2
    assert all(r["tasks"] >= 1 for r in rows)
    assert rows == sorted(rows, key=lambda r: r["run_ms"], reverse=True)
    assert sum(r["shuffle_write_mb"] for r in rows) >= 0.0  # metrics fields present and numeric
    # every stage is attributed to the runner stage that launched its job
    labels = {r["label"]: r for r in by_label(rows, res["jobs"])}
    assert set(labels) == {"it=0/group", "it=0/scan"}
    assert labels["it=0/group"]["stages"] >= 2
    # and counts each label's Spark jobs: under AQE every shuffle map
    # stage runs as a job of its own, so the groupBy + count runs 3 jobs
    # (two map stages, the result) and the plain count 2
    assert {k: r["jobs"] for k, r in labels.items()} == {"it=0/group": 3, "it=0/scan": 2}
    assert sum(r["run_ms"] for r in labels.values()) == sum(r["run_ms"] for r in rows)
    assert res["cores"] == 2
    idle = idle_windows(res["tasks"], res["jobs"], res["cores"])
    assert idle["wall_s"] > 0
    assert all(w["end_s"] - w["start_s"] >= 1.0 for w in idle["windows"])

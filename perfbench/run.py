"""film_crawler_spark benchmark: one workload per invocation, on local[4].

    python3 perfbench/run.py --workload crawl_pages --seed 1 --seconds 10 --trace 0

Run from the repository root. Each invocation starts one Spark session
(``setup_s`` includes the JVM launch) and crawls a fresh warehouse once
(see workloads.py). A run does a fixed amount of work; ``--seconds`` is
accepted because the benchmark's command line requires it. The crawl is
checked against the serial simulator outside every timed window.

With ``--trace 1`` the crawl is traced, and the same JVM then either
re-crawls the warehouse (``run_supplement``, then ``run_repair``) or runs
the query suite and a streaming query on seeded tables, as the
workload's ``traced_phase`` says, each checked against its oracle. Spans are written to ``.perfbench_out/``. The last line of
standard output is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``.

Warehouses, Spark scratch, temp files, event logs and query tables live
under ``.perfbench_work/``, which is swept before and after every run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
CORES = 4
DRIVER_MEM = "3g"
DEADLINE_S = 170  # a run must end within 180 s
WORKLOADS = ("crawl_pages", "crawl_media")
# every table an iteration stages, through TableIO.stage or stage_empty
STAGED_TABLES = ("fetch_log", "frontier", "seen", "dead_letter", "metrics", "robots",
                 "robots_denied", "images", "renditions", "video_files")
END_TO_END = {
    "setup_s": "s", "crawl_s": "s", "crawl_cpu_s": "s", "iter_s_p50": "s",
    "peak_pss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from film_crawler_spark.queries import REGISTRY

    return {
        "crawl_loop.iter_self_s": "s", "crawl_loop.jobs_per_iter": "count",
        "crawl_loop.tasks_per_iter": "count", "crawl_loop.iterations": "count",
        **{f"tableio.stage_s.{t}": "s" for t in STAGED_TABLES},
        "tableio.stage_empty_calls": "count", "tableio.commit_s": "s", "tableio.read_s": "s",
        "tableio.recrawl_read_s": "s", "tableio.files_written": "count",
        "tableio.mb_written": "MB", "warehouse_mb": "MB",
        "fetch.rows": "count", "fetch.media_rows": "count", "fetch.ok_share": "ratio",
        "fetch.pages_per_s": "1/s", "fetch.blobs_per_s": "1/s", "fetch.drain_s": "s",
        "fused_staging.s": "s", "fused_staging.rows": "count",
        "supplement.s": "s", "supplement.rows": "count",
        "repair.s": "s", "repair.enqueued": "count",
        **{f"queries.{q}_s": "s" for q in REGISTRY},
        "queries.total_s": "s", "streaming.s": "s",
        "spark.jobs": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
        "spark.executor_s": "s", "spark.core_busy_share": "ratio", "spark.shuffle_mb": "MB",
        "spark.gc_s": "s",
        "trace.crawl_s": "s", "trace.crawl_cpu_s": "s", "trace.overhead_s": "s",
    }


def on_deadline(signum, frame) -> None:
    """Kill the JVM (its Python workers exit with it) and fail the run."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    raise TimeoutError(f"perfbench: run exceeded {DEADLINE_S} s")


def sweep() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def process_tree() -> list[int]:
    """This process and all its descendants: the driver JVM and the
    Python worker daemon with its workers."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used by the process tree, reaped children included."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class MemSampler(threading.Thread):
    """Peak memory of the process tree, sampled from /proc: the sum of
    proportional set sizes, so pages the forked Python workers share with
    their daemon count once rather than once per worker."""

    def __init__(self, interval_s: float = 0.5):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_pss() -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval_s):
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def start_spark():
    from film_crawler_spark.session import get_spark, warmup

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        # event logs are parsed as plain JSON lines
        "spark.eventLog.compress": "false",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


@contextlib.contextmanager
def iteration_clock():
    """Wall time of each crawl iteration, from reading the frontier
    snapshot to the committed manifest. run_crawl looks up run_iteration
    in the crawl_loop module, so wrapping that name times every call."""
    from film_crawler_spark.plans import crawl_loop

    orig = crawl_loop.run_iteration
    walls: list[float] = []

    def timed(*args, **kwargs):
        t = time.perf_counter()
        summary = orig(*args, **kwargs)
        walls.append(time.perf_counter() - t)
        return summary

    crawl_loop.run_iteration = timed
    try:
        yield walls
    finally:
        crawl_loop.run_iteration = orig


def crawl(spark, inputs, wh: str, sim, tracer) -> dict:
    """One crawl into a fresh warehouse, then its output check."""
    from film_crawler_spark.plans.crawl_loop import run_crawl

    from workloads import check_crawl

    mark = tracer.max_job_id() if tracer else None
    with iteration_clock() as walls:
        cpu, t = tree_cpu_s(), time.time()
        res = run_crawl(spark, inputs.seeds, inputs.crawl_config(wh))
        c = {"window": (t, time.time()), "crawl_cpu_s": tree_cpu_s() - cpu}
    c["crawl_s"] = c["window"][1] - t
    c["iter_walls"] = walls
    if tracer:
        c["jobs"], c["tasks"] = tracer.jobs_and_tasks(mark)
    its = res["iterations"]
    c["fetched"] = sum(s["fetched"] for s in its)
    c["media"] = sum(s["fetched_media"] for s in its)
    c["blobs"] = sum(s["fetched_image_blobs"] for s in its)
    c["ok"] = sum(s["ok"] for s in its)
    c["warehouse_bytes"] = dir_bytes(wh)
    c["problems"] = check_crawl(wh, sim)
    return c


def recrawl(spark, inputs, wh: str, tracer) -> dict:
    """run_supplement then run_repair on the crawled warehouse, each
    checked against counts derived from the committed tables."""
    import workloads as W
    from film_crawler_spark.plans.repair import run_repair
    from film_crawler_spark.plans.supplement import run_supplement

    r: dict = {"problems": [], "windows": []}
    want = W.expected_supplement(wh)
    t = time.time()
    with tracer.span("supplement"):
        got = run_supplement(spark, inputs.supplement_config(wh), kinds=W.SUPPLEMENT_KINDS)
    r["windows"].append((t, time.time()))
    r["supplement_rows"] = got["reviews_new"] + got["news_new"] + got["ratings_new"]
    for key, n in want.items():
        if got[key] != n:
            r["problems"].append(f"supplement {key}: {got[key]} vs {n} expected")
    want_enqueued = W.expected_repair_enqueued(wh)
    t = time.time()
    with tracer.span("repair"):
        run_repair(spark, inputs.repair_config(wh))
    r["windows"].append((t, time.time()))
    r["repair_enqueued"] = next(m["summary"]["repair_enqueued"] for m in W.manifests(wh).values()
                                if "repair_enqueued" in m["summary"])
    if r["repair_enqueued"] != want_enqueued:
        r["problems"].append(f"repair enqueued {r['repair_enqueued']} vs {want_enqueued} expected")
    return r


def query_suite(spark, seed: int, tracer) -> dict:
    """Every query of queries.REGISTRY, in an order drawn from the seed,
    on tables generated from the seed; then a windowed-count stream over
    the events table. Each result is checked outside its span."""
    import random

    import querydata as QD
    from film_crawler_spark.queries import REGISTRY
    from film_crawler_spark.streaming import metrics_stream as MS

    qdir = os.path.join(WORK, "queries")
    stream_dir = QD.write_tables(qdir, seed)
    oracle = QD.Oracle(qdir)
    names = sorted(REGISTRY)
    random.Random(seed).shuffle(names)
    q: dict = {"problems": [], "s": {}}
    try:
        for name in names:
            fn, sql = REGISTRY[name]
            with tracer.span(f"queries.{name}") as rec:
                df = fn(spark, qdir)
                rows = df.collect()
            q["s"][name] = rec["end"] - rec["start"]
            problem = oracle.check(name, df.columns, rows, sql)
            if problem:
                q["problems"].append(problem)
    finally:
        oracle.close()
    with tracer.span("streaming") as rec:
        stream = MS.windowed_counts(MS.stream_events(spark, stream_dir), window="1 hour",
                                    watermark="2 hours")
        MS.run_available_now(stream, "win_counts", os.path.join(WORK, "stream-ckpt"))
        got = {tuple(r) for r in spark.table("win_counts").collect()}
    q["streaming_s"] = rec["end"] - rec["start"]
    want = {tuple(r) for r in MS.batch_windowed_counts(spark, stream_dir, "1 hour").collect()}
    if got != want:
        q["problems"].append(f"streaming: {len(got)} windows vs {len(want)} in batch")
    return q


def end_to_end(setup_s: float, c: dict, mem: MemSampler) -> dict:
    return {
        "setup_s": setup_s,
        "crawl_s": c["crawl_s"],
        "crawl_cpu_s": c["crawl_cpu_s"],
        "iter_s_p50": statistics.median(c["iter_walls"]),
        "peak_pss_mb": mem.peak_bytes / 2**20,
    }


# per-layer values of the traced phase a workload does not run
NOT_RECRAWLED = {"supplement_rows": 0, "repair_enqueued": 0, "windows": []}


def not_queried() -> dict:
    from film_crawler_spark.queries import REGISTRY

    return {"s": {name: 0.0 for name in REGISTRY}, "streaming_s": 0.0}


def per_layer(tracer, c: dict, r: dict, q: dict, ev_dir: str) -> dict:
    from tracing import event_log_totals

    win = c["window"]
    iters = tracer.find("crawl_loop.run_iteration", win)
    n_it = len(iters)
    stages = tracer.find("tableio.stage", win)
    ev = event_log_totals(ev_dir, *win)
    failed = event_log_totals(ev_dir, 0.0, time.time())["failed_tasks"]
    reads = ("tableio.read_log", "tableio.read_snapshot")

    def stage_s(table: str) -> float:
        return (tracer.total("tableio.stage", win, table=table)
                + tracer.total("tableio.stage_empty", win, table=table))

    return {
        "crawl_loop.iter_self_s": statistics.median(tracer.self_time(s) for s in iters),
        "crawl_loop.jobs_per_iter": sum(s["jobs"] for s in iters) / n_it,
        "crawl_loop.tasks_per_iter": sum(s["tasks"] for s in iters) / n_it,
        "crawl_loop.iterations": n_it,
        **{f"tableio.stage_s.{t}": stage_s(t) for t in STAGED_TABLES},
        "tableio.stage_empty_calls": len(tracer.find("tableio.stage_empty", win)),
        "tableio.commit_s": tracer.total("tableio.commit", win),
        "tableio.read_s": sum(tracer.total(n, win) for n in reads),
        "tableio.recrawl_read_s": sum(tracer.total(n, w) for n in reads for w in r["windows"]),
        "tableio.files_written": sum(s["files"] for s in stages),
        "tableio.mb_written": sum(s["bytes"] for s in stages) / 2**20,
        "warehouse_mb": c["warehouse_bytes"] / 2**20,
        "fetch.rows": c["fetched"],
        "fetch.media_rows": c["media"],
        "fetch.ok_share": c["ok"] / c["fetched"],
        "fetch.pages_per_s": (c["fetched"] - c["media"]) / c["crawl_s"],
        "fetch.blobs_per_s": c["blobs"] / c["crawl_s"],
        "fetch.drain_s": tracer.total("fetch.drain"),
        "fused_staging.s": tracer.total("fused_staging", win),
        "fused_staging.rows": sum(s.get("rows", 0) for s in tracer.find("fused_staging", win)),
        "supplement.s": tracer.total("supplement"),
        "supplement.rows": r["supplement_rows"],
        "repair.s": tracer.total("repair"),
        "repair.enqueued": r["repair_enqueued"],
        **{f"queries.{name}_s": s for name, s in q["s"].items()},
        "queries.total_s": sum(q["s"].values()),
        "streaming.s": q["streaming_s"],
        "spark.jobs": c["jobs"],
        "spark.tasks": c["tasks"],
        "spark.failed_tasks": failed,
        "spark.executor_s": ev["executor_s"],
        "spark.core_busy_share": ev["executor_s"] / (CORES * c["crawl_s"]),
        "spark.shuffle_mb": ev["shuffle_bytes"] / 2**20,
        "spark.gc_s": ev["gc_s"],
        "trace.crawl_s": c["crawl_s"],
        "trace.crawl_cpu_s": c["crawl_cpu_s"],
        "trace.overhead_s": tracer.overhead_s,
    }


def run(args) -> dict:
    sys.path.insert(0, ROOT)  # the engine; this directory is already on the path
    import workloads

    tracer = None
    ev_dir = os.path.join(WORK, "eventlog")
    if args.trace:
        from tracing import Tracer

        os.environ["SPARK_GRAFT_EVENTLOG"] = ev_dir
        tracer = Tracer(run_id=f"{args.workload}-seed{args.seed}-{int(time.time())}")
    inputs = workloads.make_inputs(args.workload, args.seed, tiny=args.tiny)
    sim = workloads.expected(inputs)  # the oracle, outside timed windows
    wh = os.path.join(WORK, "wh")
    mem = MemSampler()
    mem.start()
    spark = None
    problems: list[str] = []
    try:
        t = time.time()
        spark = start_spark()
        setup_s = time.time() - t
        if tracer:
            tracer.sc = spark.sparkContext
            tracer.install()
        c = crawl(spark, inputs, wh, sim, tracer)
        print(f"[perfbench] {args.workload} seed {args.seed}: {len(c['iter_walls'])} iterations,"
              f" {c['fetched']} fetched ({c['media']} media), crawl {c['crawl_s']:.2f} s,"
              f" iterations {[round(w, 2) for w in c['iter_walls']]} s",
              file=sys.stderr)
        problems += c["problems"]
        if tracer and inputs.traced_phase == "recrawl":
            r, q = recrawl(spark, inputs, wh, tracer), not_queried()
            problems += r["problems"]
        elif tracer:
            r, q = NOT_RECRAWLED, query_suite(spark, args.seed, tracer)
            problems += q["problems"]
    except Exception:
        traceback.print_exc()
        raise SystemExit("perfbench: the run raised")
    finally:
        if tracer:
            tracer.unpatch_all()
        stop_spark(spark)
        mem.stop()
    for p in problems:
        print(f"[perfbench] check failed: {p}", file=sys.stderr)
    if tracer:
        metrics, units = per_layer(tracer, c, r, q, ev_dir), per_layer_units()
        tracer.write(os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"))
    else:
        metrics, units = end_to_end(setup_s, c, mem), END_TO_END
    return {
        "correct": not problems,
        "attempted": 1,
        "failed": int(bool(problems)),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the command-line contract; a run does fixed work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny worlds (smoke check)")
    args = ap.parse_args()
    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    sweep()
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d))
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
    })
    try:
        result = run(args)
    finally:
        sweep()
    print(json.dumps(result))


if __name__ == "__main__":
    main()

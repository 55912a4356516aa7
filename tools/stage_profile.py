"""Offline profiler over Spark event logs: where executor time goes, per
crawl stage and per Spark stage, and when cores sit idle.

Three reports from one pass over the logs:

* Spark jobs and executor time per job label — the crawl loop labels
  every Spark job ``it=<i>/<stage>`` (``spark.job.description``), so
  this is the per-iteration, per-stage cost of a crawl;
* the top Spark stages by executor time — run/CPU time, GC, shuffle
  read/write, input bytes, peak task time (the analysis that found the
  round-1/2 performance bugs: cache convoys, Python-UDF recompute across
  jobs, BLAS oversubscription);
* low-occupancy windows — a 100 ms busy-core curve from task intervals,
  and every window of >= 1 s with fewer than half the cores busy, named
  by the job labels active in it (the per-iteration driver floor).

Usage:
    SPARK_GRAFT_EVENTLOG=/tmp/spark-events <run any engine workload>
    python tools/stage_profile.py /tmp/spark-events [top_n] [cores]

``cores`` defaults to N of a ``local[N]`` master, else 8. Reads every
app log in the directory (plain or zstd-compressed, the engine's
default). No Spark needed to analyze — pure JSON + pyarrow.

Reading the numbers: `cpu_s` is JVM thread CPU only. A stage whose tasks
are mapInPandas/pandas-UDF shows run_s >> cpu_s because the JVM task
thread BLOCKS while the Python worker computes — that gap is Python work
(or politeness sleeps when delay_s > 0), not executor idleness. Verified
on a 2-core crawl leg: the fetch stage shows 275 s run / 5.6 s cpu —
all of it blob decode in the workers.
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from collections import defaultdict

_UNSUPPORTED_CODECS = (".lz4", ".snappy")


def _open_log(path: str):
    if path.endswith(".zstd"):
        import pyarrow as pa

        raw = pa.CompressedInputStream(pa.OSFile(path, "rb"), "zstd").read()
        return io.StringIO(raw.decode("utf-8", errors="replace"))
    if path.endswith(_UNSUPPORTED_CODECS):
        raise SystemExit(
            f"{path}: unsupported event-log codec (only zstd/uncompressed "
            f"are handled; re-run with spark.eventLog.compression.codec=zstd)"
        )
    return open(path, encoding="utf-8", errors="replace")


def _events(ev_dir: str):
    """(app, event) for every event of every finished log under ``ev_dir``."""
    logs = []
    for fname in sorted(os.listdir(ev_dir)):
        fpath = os.path.join(ev_dir, fname)
        if os.path.isdir(fpath) and fname.startswith("eventlog_v2_"):
            # Spark 4 rolling layout: a dir of events_<n>_<app>[.codec]
            logs += [
                (fname, os.path.join(fpath, f))
                for f in sorted(os.listdir(fpath))
                if f.startswith("events_")
            ]
        elif os.path.isfile(fpath) and not fname.endswith(".inprogress"):
            logs.append((fname, fpath))
    for app, fpath in logs:
        with _open_log(fpath) as fh:
            for line in fh:
                try:
                    yield app, json.loads(line)
                except ValueError:
                    continue


def scan(ev_dir: str) -> dict:
    """One pass over the logs: per-stage aggregate rows (sorted by total
    executor run time, descending, each with its job ``label``), task
    intervals, jobs and the ``local[N]`` core count if any."""
    stages: dict[tuple, dict] = defaultdict(
        lambda: {
            "tasks": 0, "failed": 0, "run_ms": 0, "cpu_ms": 0, "gc_ms": 0,
            "input_mb": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "max_task_ms": 0, "name": "",
        }
    )
    stage_label: dict[tuple, str] = {}
    jobs: dict[tuple, list] = {}  # (app, job id) -> [submit_ms, end_ms, label]
    tasks: list[tuple[int, int]] = []  # (launch_ms, finish_ms)
    cores = None
    for app, ev in _events(ev_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = (ev.get("Properties") or {}).get("spark.job.description") or ""
            jobs[(app, ev["Job ID"])] = [ev["Submission Time"], None, label]
            for si in ev.get("Stage Infos", []):
                # a stage reused by a later job ran under its first job
                stage_label.setdefault((app, si["Stage ID"]), label)
        elif kind == "SparkListenerJobEnd":
            if (app, ev["Job ID"]) in jobs:
                jobs[(app, ev["Job ID"])][1] = ev["Completion Time"]
        elif kind == "SparkListenerEnvironmentUpdate":
            m = re.fullmatch(r"local\[(\d+)\]", ev.get("Spark Properties", {}).get("spark.master", ""))
            cores = int(m.group(1)) if m else cores
        elif kind == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            # key by attempt too: a resubmitted stage (fetch failure)
            # must not merge with its first attempt
            stages[(app, si["Stage ID"], si.get("Stage Attempt ID", 0))]["name"] = si.get("Stage Name", "")
        elif kind == "SparkListenerTaskEnd":
            ti = ev.get("Task Info", {})
            tasks.append((ti["Launch Time"], ti["Finish Time"]))
            s = stages[(app, ev["Stage ID"], ev.get("Stage Attempt ID", 0))]
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                # failed/killed attempts surface as a count, not as
                # executor time — retries would otherwise inflate the
                # very ranking this tool exists for
                s["failed"] += 1
                continue
            m = ev.get("Task Metrics")
            if not m:
                continue
            run = m.get("Executor Run Time", 0)
            shr = m.get("Shuffle Read Metrics", {})
            s["tasks"] += 1
            s["run_ms"] += run
            s["cpu_ms"] += m.get("Executor CPU Time", 0) // 1_000_000
            s["gc_ms"] += m.get("JVM GC Time", 0)
            s["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
            s["shuffle_read_mb"] += (shr.get("Local Bytes Read", 0) + shr.get("Remote Bytes Read", 0)) / 1e6
            s["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            s["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            s["max_task_ms"] = max(s["max_task_ms"], run)
    rows = [
        {"app": k[0], "stage": k[1], "attempt": k[2], "label": stage_label.get(k[:2], ""), **v}
        for k, v in stages.items()
        if v["tasks"] > 0 or v["failed"] > 0
    ]
    rows.sort(key=lambda r: r["run_ms"], reverse=True)
    return {"stages": rows, "jobs": jobs, "tasks": tasks, "cores": cores}


def by_label(rows: list[dict], jobs: dict) -> list[dict]:
    """Spark jobs and executor time per job label (``it=<i>/<stage>`` for
    crawl jobs), from ``scan``'s stage rows and jobs, sorted by run time
    descending."""
    out: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0})
    for _submit, _end, label in jobs.values():
        out[label]["jobs"] += 1
    for r in rows:
        agg = out[r["label"]]
        agg["stages"] += 1
        for k in ("tasks", "run_ms", "cpu_ms"):
            agg[k] += r[k]
    return sorted(({"label": k, **v} for k, v in out.items()), key=lambda r: r["run_ms"], reverse=True)


def idle_windows(tasks: list[tuple[int, int]], jobs: dict, cores: int) -> dict:
    """Busy-core curve at 100 ms resolution; windows of >= 1 s with fewer
    than ``cores / 2`` busy, each with the labels of the jobs active in it."""
    t0 = min(t[0] for t in tasks)
    t1 = max(t[1] for t in tasks)
    busy = [0.0] * (int((t1 - t0) // 100) + 2)
    for lo, hi in tasks:
        a, b = lo - t0, hi - t0
        ia, ib = int(a // 100), int(b // 100)
        if ia == ib:
            busy[ia] += (b - a) / 100.0
            continue
        busy[ia] += (100 - a % 100) / 100.0
        for i in range(ia + 1, ib):
            busy[i] += 1.0
        busy[ib] += (b % 100) / 100.0
    windows, start = [], None
    for i, v in enumerate(busy + [cores]):  # the sentinel closes a trailing window
        if v < cores / 2:
            start = i if start is None else start
            continue
        if start is not None and i - start >= 10:
            lo_ms, hi_ms = t0 + start * 100, t0 + i * 100
            active = [j[2] or f"job{jid}" for (_app, jid), j in jobs.items()
                      if j[1] is not None and j[0] < hi_ms and j[1] > lo_ms]
            windows.append({"start_s": start / 10, "end_s": i / 10,
                            "mean_busy": sum(busy[start:i]) / (i - start), "jobs": active})
        start = None
    return {"wall_s": (t1 - t0) / 1000, "mean_busy": sum(busy) / len(busy), "windows": windows}


def main() -> None:
    ev_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark-events"
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    res = scan(ev_dir)
    rows = res["stages"]
    if not rows:
        raise SystemExit("no tasks in event log")
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else res["cores"] or 8
    total = sum(r["run_ms"] for r in rows)
    print(f"{len(rows)} stages, total executor run time {total/1000:.1f}s\n")
    print(f"{'run_s':>8} {'cpu_s':>8} {'jobs':>5} {'stages':>6} {'tasks':>6}  label")
    for r in by_label(rows, res["jobs"]):
        print(f"{r['run_ms']/1000:>8.2f} {r['cpu_ms']/1000:>8.2f} {r['jobs']:>5} {r['stages']:>6} "
              f"{r['tasks']:>6}  {r['label'] or '(unlabelled)'}")
    print(
        f"\n{'stage':>8} {'tasks':>6} {'fail':>4} {'run_s':>8} {'cpu_s':>8} {'gc_s':>6} "
        f"{'in_MB':>8} {'shR_MB':>8} {'shW_MB':>8} {'spill':>6} {'maxT_s':>7}  label / name"
    )
    for r in rows[:top_n]:
        # skew smell: one task dominating the stage (max_task ~ run/1)
        sid = f"{r['stage']}" if r["attempt"] == 0 else f"{r['stage']}.r{r['attempt']}"
        print(
            f"{sid:>8} {r['tasks']:>6} {r['failed']:>4} {r['run_ms']/1000:>8.2f} "
            f"{r['cpu_ms']/1000:>8.2f} {r['gc_ms']/1000:>6.2f} "
            f"{r['input_mb']:>8.1f} {r['shuffle_read_mb']:>8.1f} "
            f"{r['shuffle_write_mb']:>8.1f} {r['spill_mb']:>6.1f} "
            f"{r['max_task_ms']/1000:>7.2f}  {r['label']} {r['name'][:50]}"
        )
    idle = idle_windows(res["tasks"], res["jobs"], cores)
    lows = idle["windows"]
    print(f"\nwall {idle['wall_s']:.1f}s, cores {cores}, mean busy {idle['mean_busy']:.2f}; "
          f"{len(lows)} windows (<{cores / 2} cores busy, >=1s), "
          f"total {sum(w['end_s'] - w['start_s'] for w in lows):.1f}s:")
    for w in lows:
        label = "; ".join(w["jobs"][:3]) or "NO JOB RUNNING (driver-only)"
        print(f"  {w['start_s']:8.1f}s -> {w['end_s']:8.1f}s "
              f"({w['end_s'] - w['start_s']:6.1f}s, mean {w['mean_busy']:4.1f} busy): {label}")


if __name__ == "__main__":
    main()

"""The crawl loop's stage runner: ``after`` ordering, error propagation,
and the ``it=<i>/<stage>`` description on every Spark job a stage runs
(read back from the driver's status store)."""

import sys
import threading
import time

import pytest

from film_crawler_spark.plans.crawl_loop import _run_stages


def _descriptions_since(sc, mark: int) -> dict[int, str | None]:
    # the status store is fed by the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    out = {}
    for jid in sc.statusTracker().getJobIdsForGroup(None):
        if jid > mark:
            d = store.job(jid).description()
            out[jid] = d.get() if d.isDefined() else None
    return out


def _mark(sc) -> int:
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def test_runner_orders_and_labels_jobs(spark):
    sc = spark.sparkContext
    mark = _mark(sc)
    stages = [
        ("a", lambda: spark.range(100).count(), ()),
        # b gets a's result and must start only after a has finished
        ("b", lambda n: spark.range(n).selectExpr("sum(id) AS s").first()["s"], ("a",)),
        ("c", lambda: spark.range(7).count(), ()),
    ]
    res, spans = _run_stages(sc, 3, time.time(), stages)
    assert res == {"a": 100, "b": 4950, "c": 7}
    assert set(spans) == {"a", "b", "c"}
    assert all(start <= end for start, end in spans.values())
    assert spans["a"][1] <= spans["b"][0]
    descs = _descriptions_since(sc, mark)
    assert descs, "no Spark job ran"
    assert set(descs.values()) == {"it=3/a", "it=3/b", "it=3/c"}
    # the caller's thread carries no stage label afterwards
    assert sc.getLocalProperty("spark.job.description") is None


def test_runner_raises_stage_error(spark):
    ran = []

    def boom():
        raise ValueError("stage failed")

    stages = [
        ("boom", boom, ()),
        ("after_boom", lambda _: ran.append("after_boom"), ("boom",)),
        ("other", lambda: ran.append("other"), ()),
    ]
    with pytest.raises(ValueError, match="stage failed"):
        _run_stages(spark.sparkContext, 0, time.time(), stages)
    # a stage whose dependency failed never runs; an independent one does
    assert ran == ["other"]


class _ThreadLocalContext:
    """Stands in for SparkContext's per-thread local properties."""

    def __init__(self):
        self._local = threading.local()

    def setLocalProperty(self, key, value):
        setattr(self._local, key, value)

    def getLocalProperty(self, key):
        return getattr(self._local, key, None)


def test_runner_stress_labels_and_order():
    """More stage threads than cores, a short switch interval: every stage
    sees only its own label, gets its dependency's result, and starts
    after that dependency ended."""
    sc = _ThreadLocalContext()
    seen = {}

    def stage(name):
        def fn(*deps):
            time.sleep(0.001)
            seen[name] = (sc.getLocalProperty("spark.job.description"), deps)
            return name
        return fn

    names = [f"s{i}" for i in range(32)]
    stages = [(n, stage(n), (names[i - 1],) if i % 2 else ()) for i, n in enumerate(names)]
    out = {}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        t = threading.Thread(target=lambda: out.update(r=_run_stages(sc, 7, time.time(), stages)))
        t.start()
        t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not t.is_alive()
    res, spans = out["r"]
    assert res == {n: n for n in names}
    for i, n in enumerate(names):
        assert seen[n][0] == f"it=7/{n}"
        if i % 2:
            assert seen[n][1] == (names[i - 1],)
            assert spans[names[i - 1]][1] <= spans[n][0]

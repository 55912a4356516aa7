"""Checkpoint/resume: a crawl interrupted after k iterations and resumed
must converge to logically identical tables vs an uninterrupted run
(engine T3; reference counterpart: epoch checkpoint file,
spiders.py:215-218, 278-281 — the engine's manifest commit supersedes
the .bak dance)."""

import os

import pytest
from pyspark.sql import functions as F

from film_crawler_spark.operators.politeness import PolitenessConfig
from film_crawler_spark.plans.crawl_loop import CrawlConfig, run_crawl
from film_crawler_spark.sources.synthetic_site import SiteConfig, make_seed_ids
from film_crawler_spark.sources.tableio import TableIO

SITE = SiteConfig(max_images_per_title=30)
POL = PolitenessConfig(budget_html=8, budget_img=100)
SEEDS = make_seed_ids(6)


def _snapshot(io: TableIO) -> dict:
    out = {}
    for t, keys in [
        ("seen", ["canon_url"]),
        ("images", ["image_id", "caption", "phash", "w", "h", "fmt"]),
        ("fetch_log", ["iteration", "host", "priority", "seq", "canon_url", "status"]),
        ("dead_letter", ["url", "last_error"]),
    ]:
        df = io.read_log(t)
        out[t] = sorted(tuple(r) for r in df.select(*keys).collect())
    return out


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    """One uninterrupted crawl that never compacts: the reference run of
    the resume and compaction gates, and the termination test's crawl.
    Compaction is a physical choice only, so it also stands in for the
    default-config crawl."""
    wh = str(tmp_path_factory.mktemp("uninterrupted"))
    res = run_crawl(spark, SEEDS, CrawlConfig(
        warehouse=wh, site=SITE, politeness=POL, max_iterations=64, compact_every=0))
    return TableIO(spark, wh), res


def test_resume_equals_uninterrupted(spark, tmp_path, uninterrupted):
    io_a, _ = uninterrupted
    wh_b = str(tmp_path / "b")
    # interrupted after 2 iterations, then resumed (same warehouse)
    cfg_b = CrawlConfig(warehouse=wh_b, site=SITE, politeness=POL, max_iterations=2)
    run_crawl(spark, SEEDS, cfg_b)
    io_b = TableIO(spark, wh_b)
    assert io_b.last_committed() is not None and io_b.last_committed() < 30
    cfg_b2 = CrawlConfig(warehouse=wh_b, site=SITE, politeness=POL, max_iterations=64)
    run_crawl(spark, SEEDS, cfg_b2)

    snap_a, snap_b = _snapshot(io_a), _snapshot(io_b)
    for t in snap_a:
        assert snap_a[t] == snap_b[t], f"table {t} diverged after resume"


def test_compaction_invariance(spark, tmp_path, uninterrupted):
    """Seen/caption log compaction is a physical choice only: a crawl
    compacting every 2 iterations must produce byte-identical logical
    tables vs one that never compacts, resume across a compaction
    boundary included — while reads touch O(compact_every) directories
    instead of O(crawl age)."""
    io_n, _ = uninterrupted
    wh_c = str(tmp_path / "compact")
    # compacted run, interrupted right after a compaction boundary
    cfg1 = CrawlConfig(warehouse=wh_c, site=SITE, politeness=POL,
                       max_iterations=3, compact_every=2)
    run_crawl(spark, SEEDS, cfg1)
    run_crawl(spark, SEEDS, CrawlConfig(
        warehouse=wh_c, site=SITE, politeness=POL, max_iterations=64, compact_every=2))
    io_c = TableIO(spark, wh_c)
    snap_n, snap_c = _snapshot(io_n), _snapshot(io_c)
    for t in snap_n:
        assert snap_n[t] == snap_c[t], f"table {t} diverged under compaction"
    # the base actually supersedes earlier delta dirs
    last = io_c.last_committed()
    n_dirs_c = len(io_c._committed_dirs("seen", upto=last))
    n_dirs_n = len(io_n._committed_dirs("seen", upto=io_n.last_committed()))
    assert n_dirs_c < n_dirs_n
    assert any(
        io_c.manifest(i).get("bases", {}).get("seen") == i
        for i in io_c.committed_iterations()
    )


def test_crawl_terminates_with_empty_frontier(uninterrupted):
    io, res = uninterrupted
    assert res["iterations"][-1]["pending_next"] == 0
    pending = io.read_snapshot("frontier")
    assert pending.count() == 0
    # the dequeue is the only budget check: every dequeued row is fetched
    assert io.read_log("fetch_log").filter(F.col("budget_denied")).count() == 0


def test_second_writer_cannot_overwrite_a_commit(spark, tmp_path):
    """Two writers on one warehouse: the second commit of an iteration
    raises instead of replacing the first manifest."""
    wh = str(tmp_path / "w")
    first, second = TableIO(spark, wh), TableIO(spark, wh)
    first.commit(0, ["frontier"], extra={"summary": {"writer": 1}})
    with open(first._commit_path(0)) as f:
        committed = f.read()
    with pytest.raises(FileExistsError):
        second.commit(0, ["seen"], extra={"summary": {"writer": 2}})
    with open(first._commit_path(0)) as f:
        assert f.read() == committed
    assert TableIO(spark, wh).manifest(0)["summary"] == {"writer": 1}
    # no temp file is left behind by either writer
    assert os.listdir(os.path.join(wh, "_commits")) == [os.path.basename(first._commit_path(0))]


def test_failed_iteration_releases_its_caches(spark, tmp_path, monkeypatch):
    """A stage that raises fails the iteration before its commit, and the
    iteration's persisted frames (fetched bodies, discoveries, new robots
    rows) are released anyway."""
    from film_crawler_spark.plans import crawl_loop

    def broken_fused_stage(*_args, **_kwargs):
        raise RuntimeError("injected fused-stage failure")

    monkeypatch.setattr(crawl_loop, "fused_stage", broken_fused_stage)
    # earlier tests on the shared session may have left caches behind
    spark.catalog.clearCache()
    wh = str(tmp_path / "w")
    cfg = CrawlConfig(warehouse=wh, site=SITE, politeness=POL, max_iterations=1)
    with pytest.raises(RuntimeError, match="injected fused-stage failure"):
        run_crawl(spark, make_seed_ids(2), cfg)
    io = TableIO(spark, wh)
    assert io.last_committed() == -1  # the seed commit, and no it=0 manifest
    assert not os.path.exists(io._commit_path(0))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

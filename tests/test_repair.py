"""Repair-mode tests (T5): the dead-letter backlog replay.

A crawl with a deliberately tight 500-retry cap (2 < the site's max
heal attempt of 3) exhausts some flaky URLs into dead_letter; repair
re-enqueues them with their attempt count preserved, so the fetch
resumes at attempt 3 and heals — while permanent 404s fail again and
return to the dead-letter log. Mirrors the reference's repair spiders
replaying remain.csv (main.py:95-115, spiders.py:2995-2998).
"""

import pytest
from pyspark.sql import functions as F

from film_crawler_spark.operators.politeness import PolitenessConfig
from film_crawler_spark.plans.crawl_loop import CrawlConfig, run_crawl
from film_crawler_spark.plans.repair import run_repair
from film_crawler_spark.sources.synthetic_site import SiteConfig, SyntheticSite, make_seed_ids
from film_crawler_spark.sources.tableio import TableIO
from test_stage_runner import _descriptions_since, _mark

SITE = SiteConfig(max_images_per_title=30, p_500=0.15, p_404=0.05)
# retry cap BELOW the site's max heal attempt => some 500s exhaust
POL = PolitenessConfig(budget_html=64, budget_img=400, retry_cap_500=2, retry_cap_media=2)


@pytest.fixture(scope="module")
def repaired(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("repair_wh"))
    cfg = CrawlConfig(warehouse=wh, site=SITE, politeness=POL, max_iterations=24)
    run_crawl(spark, make_seed_ids(8), cfg)
    io = TableIO(spark, wh)
    dead_before = {
        (r["canon_url"], r["last_error"], r["attempts"])
        for r in io.read_log("dead_letter").collect()
    }
    assert dead_before, "test needs a non-empty dead-letter backlog"
    repair_it = io.last_committed() + 1
    mark = _mark(spark.sparkContext)
    run_repair(spark, cfg)
    # the repair commit and the crawl it resumes label every job with its
    # iteration; the repair manifest carries its stage trace
    descs = _descriptions_since(spark.sparkContext, mark)
    assert descs and all(d and d.startswith("it=") for d in descs.values()), descs
    repair = io.manifest(repair_it)["summary"]
    assert set(repair["stages"]) == {"frontier"}
    # the repair manifest carries every pending hint, so the next
    # iteration can prove the dequeue skip, and that iteration re-stages
    # the robots cache only if it fetched robots for a new host
    assert repair["pending_next_html"] + repair["pending_next_media"] == repair["pending_next"]
    after = io.manifest(repair_it + 1)
    restaged = after["summary"]["robots_fetched"] > 0
    assert after["summary"]["decisions"]["robots_restaged"] == restaged
    assert ("robots" in after["tables"]) == restaged
    return io, dead_before


def test_repair_heals_transient_failures(repaired):
    io, dead_before = repaired
    flaky = {c for c, err, _ in dead_before if err == "http_500"}
    assert flaky, "flaky slice missing from the error model"
    healed = {
        r["canon_url"]
        for r in io.read_log("fetch_log")
        .filter(F.col("status") == 200)
        .select("canon_url")
        .collect()
    }
    # every 500-exhausted URL heals on repair (heal attempt <= 3 and the
    # preserved attempt count resumes past the original cap)
    assert flaky <= healed


def test_repair_refails_permanent_404(repaired):
    io, dead_before = repaired
    permanent = {c for c, err, _ in dead_before if err == "http_404"}
    assert permanent, "permanent-404 slice missing from the error model"
    dead_after = {}
    for r in io.read_log("dead_letter").collect():
        prev = dead_after.get(r["canon_url"], 0)
        dead_after[r["canon_url"]] = max(prev, r["attempts"])
    for c in permanent:
        assert c in dead_after  # still dead
    before_attempts = {c: a for c, _e, a in dead_before}
    # and the attempt count advanced (the repair really re-fetched)
    assert any(dead_after[c] > before_attempts[c] for c in permanent)


def test_repair_converges_to_permanent_failures_only(spark, repaired):
    """Repair converges: a healed subtree can DISCOVER new flaky URLs
    (healed photo_detail -> new blob fetches) that die in that same
    repair pass, so one pass is not a fixpoint. After enough passes to
    cover the crawl depth, the un-succeeded dead set is exactly the
    permanent 404s, and one more pass heals nothing further."""
    io, _ = repaired
    cfg = CrawlConfig(warehouse=io.root, site=SITE, politeness=POL, max_iterations=96)
    for _ in range(3):  # crawl depth is 3; first pass already ran in the fixture
        run_repair(spark, cfg)
    succeeded = io.read_log("fetch_log").filter(F.col("status") == 200).select("canon_url")
    still_dead = (
        io.read_log("dead_letter")
        .join(succeeded, "canon_url", "left_anti")
        .select("canon_url", "last_error")
        .distinct()
        .collect()
    )
    assert still_dead, "expected permanent failures to remain"
    assert {r["last_error"] for r in still_dead} == {"http_404"}
    n_ok_before = io.read_log("fetch_log").filter(F.col("status") == 200).count()
    run_repair(spark, cfg)
    n_ok_after = io.read_log("fetch_log").filter(F.col("status") == 200).count()
    assert n_ok_after == n_ok_before  # fixpoint: nothing left that can heal

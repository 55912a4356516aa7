"""Seed generators (S7/K7), the 404-liveness probe (P7), and the
warehouse integrity checker (P8/Summary) — reference utils.py:15-271,
spiders.py:3472-3533, utils.py:272-402."""

from pyspark.sql import functions as F

from film_crawler_spark.operators.politeness import PolitenessConfig
from film_crawler_spark.plans import integrity as IG
from film_crawler_spark.plans import liveness as LV
from film_crawler_spark.plans import seeds as SD
from film_crawler_spark.plans.crawl_loop import CrawlConfig, run_crawl
from film_crawler_spark.sources.synthetic_site import (
    CHARTS, SiteConfig, SyntheticSite, make_seed_ids,
)

CFG = SiteConfig()
SITE = SyntheticSite(CFG)


def test_chart_seeds_union_dedup_sort(spark):
    got = [r["id"] for r in SD.chart_seeds(spark, CFG).collect()]
    want = sorted({tt for c in CHARTS for tt in SITE.chart_ids(c)})
    assert got == want
    assert len(got) < sum(len(SITE.chart_ids(c)) for c in CHARTS)  # dedup real


def test_near_year_seeds(spark):
    got = [r["id"] for r in SD.near_year_seeds(spark, "2020-01", "2020-04", CFG).collect()]
    months = ["2020-01", "2020-02", "2020-03", "2020-04"]
    # a permanently-404 month page contributes nothing (the reference
    # would log and continue, utils.py:20-31); 500s heal under retry
    alive = [
        m for m in months
        if SITE.status_of(f"https://www.media-h0.com/movies-coming-soon/{m}", 20) == 200
    ]
    assert len(alive) < len(months)  # the fixture range includes a 404
    want = sorted({tt for m in alive for tt in SITE.coming_soon_ids(m)})
    assert got == want and got


def test_all_event_seeds(spark):
    got = [r["id"] for r in SD.all_event_seeds(spark, CFG).collect()]
    assert got == sorted(set(SITE.all_event_ids())) and got


def test_seed_table_roundtrip(spark, tmp_path):
    """K7 writer shape: run_crawl.py --seed-file reads col 0 of a
    tab-separated CSV — the written table must round-trip."""
    path = str(tmp_path / "seeds")
    SD.write_seed_table(SD.chart_seeds(spark, CFG), path)
    back = {r["_c0"] for r in spark.read.csv(path, sep="\t").collect()}
    assert back == {tt for c in CHARTS for tt in SITE.chart_ids(c)}


def test_probe_404(spark):
    tts = [f"tt{i:07d}" for i in range(1, 400)]
    ids = spark.createDataFrame([(t,) for t in tts], "tt string")
    dead = {r["id"] for r in LV.probe_404(ids, "tt", CFG).collect()}
    want = {t for t in tts if SITE.status_of(SITE.title_url(t), 1) == 404}
    assert dead == want and want  # the world must contain real 404s
    # 500-heal URLs must NOT be reported dead (retry policy applies)
    healed = {t for t in tts if SITE.status_of(SITE.title_url(t), 1) == 500}
    assert healed and not (dead & healed)


def test_probe_404_persons(spark):
    nms = [f"nm{i:07d}" for i in range(1, 200)]
    ids = spark.createDataFrame([(n,) for n in nms], "nm string")
    dead = {r["id"] for r in LV.probe_404(ids, "nm", CFG).collect()}
    want = {n for n in nms if SITE.status_of(SITE.person_url(n), 1) == 404}
    assert dead == want


def test_integrity_checker(spark, tmp_path):
    wh = str(tmp_path / "wh")
    run_crawl(
        spark, make_seed_ids(4),
        CrawlConfig(
            warehouse=wh, site=SiteConfig(max_images_per_title=10),
            politeness=PolitenessConfig(budget_html=8, budget_img=64),
            max_iterations=3,
        ),
    )
    report = IG.check_warehouse(spark, wh)
    rep = {r["table"]: r for r in report.collect()}
    # every table the crawl stages must be present and schema-clean
    assert all(r["present"] and r["schema_ok"] for r in rep.values()), rep
    assert IG.wrong_tables(report) == []
    s = IG.corpus_summary(report)
    assert s["tot_samples"] > 0 and s["tot_attributes"] > s["tot_samples"]
    # a foreign/empty warehouse is fully flagged (the wrongcsv case)
    empty_report = IG.check_warehouse(spark, str(tmp_path / "nope"))
    assert set(IG.wrong_tables(empty_report)) == set(IG.EXPECTED_KEYS)


def test_probe_404_drains_past_budget(spark):
    """An id list longer than the per-host politeness budget must still
    probe EVERY id (fetch_drain fetches every budget pass; a single pass
    would report the skipped tail as alive)."""
    tts = [f"tt{i:07d}" for i in range(1, 400)]
    ids = spark.createDataFrame([(t,) for t in tts], "tt string")
    pol = PolitenessConfig(budget_html=16, budget_img=16)
    dead = {r["id"] for r in LV.probe_404(ids, "tt", CFG, pol).collect()}
    want = {t for t in tts if SITE.status_of(SITE.title_url(t), 1) == 404}
    assert dead == want and want


def test_chart_seeds_tiny_budget_complete(spark):
    """Seed generators drain the pages past the budget too: a budget smaller
    than the chart-page count must not silently drop chart ids."""
    pol = PolitenessConfig(budget_html=2, budget_img=2)
    got = [r["id"] for r in SD.chart_seeds(spark, CFG, pol).collect()]
    want = sorted({tt for c in CHARTS for tt in SITE.chart_ids(c)})
    assert got == want

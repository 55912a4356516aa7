"""Politeness: per-host delay spacing, the per-iteration budget the
dequeue enforces, and the invariant that the rate-limited fetch path
(delay_s > 0, per-host-serial) and the unpaced path (delay_s = 0,
spread) produce identical crawl RESULTS — the delay changes wall-clock,
never semantics."""

import time

from film_crawler_spark.operators.politeness import PolitenessConfig, TokenBucket
from film_crawler_spark.plans.crawl_loop import CrawlConfig, run_crawl
from film_crawler_spark.sources.synthetic_site import SiteConfig, make_seed_ids
from film_crawler_spark.sources.tableio import TableIO

SITE = SiteConfig(max_images_per_title=15)
SEEDS = make_seed_ids(5)


def test_bucket_delay_spacing():
    b = TokenBucket(delay_s=0.05)
    t0 = time.monotonic()
    for _ in range(4):
        b.pace("h")
    elapsed = time.monotonic() - t0
    assert elapsed >= 3 * 0.05 * 0.9  # 4 requests => 3 enforced gaps
    t1 = time.monotonic()
    b.pace("other")  # spacing is per host
    assert time.monotonic() - t1 < 0.05


def test_delay_does_not_change_semantics(spark, tmp_path, budget_peaks):
    outs = []
    for name, delay in [("d0", 0.0), ("d1", 0.03)]:
        wh = str(tmp_path / name)
        pol = PolitenessConfig(budget_html=8, budget_img=64, delay_s=delay)
        run_crawl(spark, SEEDS, CrawlConfig(warehouse=wh, site=SITE, politeness=pol, max_iterations=24))
        io = TableIO(spark, wh)
        # the dequeue's per-iteration cap holds on both fetch paths
        pages, media = budget_peaks(io)
        assert pages <= pol.budget_html and media <= pol.budget_img, (name, pages, media)
        seen = sorted(r["canon_url"] for r in io.read_log("seen").collect())
        imgs = sorted(
            (r["image_id"], r["caption"], r["phash"])
            for r in io.read_log("images").collect()
        )
        order = sorted(
            tuple(r)
            for r in io.read_log("fetch_log")
            .select("iteration", "host", "priority", "seq", "canon_url")
            .collect()
        )
        outs.append((seen, imgs, order))
    assert outs[0] == outs[1]

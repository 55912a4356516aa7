"""Politeness: per-host delay spacing, the per-iteration budget the
dequeue enforces, the budget passes a one-shot drain fetches, and the
invariant that the rate-limited fetch path (delay_s > 0, per-host-serial)
and the unpaced path (delay_s = 0, spread) produce identical crawl
RESULTS — the delay changes wall-clock, never semantics."""

import time

from pyspark.sql import functions as F

from film_crawler_spark.operators import frontier as FR
from film_crawler_spark.operators.fetch import fetch_drain
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


def _keys(df):
    return sorted(r["canon_url"] for r in df.select("canon_url").collect())


def test_budget_pass_matches_dequeue_loop(spark):
    """Pass p of ``budget_pass`` is exactly the p-th dequeue of a loop that
    removes each dequeued batch from the pending frontier (the reference
    the one-shot drain replaced), and the salted dequeue equals the
    unsalted one at every step."""
    rows = [
        (f"https://h{(0, 0, 0, 1, 2)[i % 5]}.example/p/{i}",
         "image_blob" if i % 4 == 0 else "title", (i * 37) % 50, (i * 7) % 3)
        for i in range(50)
    ]
    frontier = FR.frontier_rows(
        spark.createDataFrame(rows, "url string, page_kind string, seq long, priority int")
    ).localCheckpoint(eager=True)
    ranked = frontier.withColumn("_pass", FR.budget_pass(["host"], 3, 5)).localCheckpoint(eager=True)
    pending, p = frontier, 0
    while not pending.isEmpty():
        batch = FR.dequeue(pending, 3, 5, n_salts=1).localCheckpoint(eager=True)
        assert _keys(FR.dequeue(pending, 3, 5, n_salts=4)) == _keys(batch), p
        assert _keys(ranked.filter(F.col("_pass") == p)) == _keys(batch), p
        pending = FR.remaining(pending, batch).localCheckpoint(eager=True)
        p += 1
    # h0 holds 23 page rows at budget 3: the loop needed 8 passes
    assert p == 8 and ranked.agg(F.max("_pass")).first()[0] == p - 1


def test_drain_keeps_delay_across_passes(spark):
    """Each drain pass starts fresh fetch tasks (and buckets), so the
    pacing between one host's last request of a pass and its first of
    the next is the driver's to keep: one host at a page budget of 1
    makes three passes, two delays apart."""
    urls = [(f"https://www.imdb.com/title/tt{i:07d}/", "title", i) for i in range(1, 4)]
    frontier = FR.frontier_rows(spark.createDataFrame(urls, "url string, page_kind string, seq long"))
    pol = PolitenessConfig(budget_html=1, delay_s=4.0)
    t0 = time.monotonic()
    fetched = fetch_drain(frontier, SITE, pol)
    elapsed = time.monotonic() - t0
    assert fetched.count() == 3
    assert elapsed >= 2 * pol.delay_s, elapsed


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

"""Physical-choice invariance.

A crawl run with the salted two-phase dequeue forced on must produce
bit-identical frontier ordering / seen set / results to the plain
small-scale plan.
"""

from film_crawler_spark.operators.politeness import PolitenessConfig
from film_crawler_spark.plans import crawl_loop
from film_crawler_spark.plans.crawl_loop import CrawlConfig, run_crawl
from film_crawler_spark.simulator import simulate
from film_crawler_spark.sources.synthetic_site import SiteConfig, make_seed_ids
from film_crawler_spark.sources.tableio import TableIO


def test_crawl_invariant_under_physical_choices(spark, tmp_path, monkeypatch):
    """Same crawl with the salted two-phase dequeue forced on =>
    identical fetch order, seen set and image count as the serial
    simulator (and therefore as the default-knob run, which the replay
    tests pin to the same oracle)."""
    site = SiteConfig(max_images_per_title=50)
    pol = PolitenessConfig(budget_html=32, budget_img=400)
    seeds = make_seed_ids(8)
    monkeypatch.setattr(crawl_loop, "SALT_MIN_PENDING", 0)  # salted dequeue always on
    monkeypatch.setattr(crawl_loop, "N_SALTS", 4)
    cfg = CrawlConfig(warehouse=str(tmp_path / "wh"), site=site, politeness=pol, max_iterations=24)
    run_crawl(spark, seeds, cfg)
    io = TableIO(spark, cfg.warehouse)
    sim = simulate(seeds, site, pol, reverse_seeds=True, max_iterations=24)

    log = io.read_log("fetch_log").select("host", "iteration", "priority", "seq", "canon_url").collect()
    engine_order: dict = {}
    for r in sorted(log, key=lambda r: (r["iteration"], r["priority"], r["seq"])):
        engine_order.setdefault(r["host"], []).append(r["canon_url"])
    assert engine_order == sim.fetch_order

    engine_seen = {r["canon_url"] for r in io.read_log("seen").select("canon_url").collect()}
    assert engine_seen == sim.seen

    n_ori = sum(1 for v in sim.images.values() if "ori" in v.get("renditions", {}))
    assert io.read_log("images").count() == n_ori

"""Golden replay tests — the BASELINE.json correctness gate.

The distributed engine and the serial reference simulator crawl the same
synthetic world under the same seed list and politeness budget; assert:

* exact fetch ordering per host (iteration by iteration),
* identical final URL-seen set,
* identical dead-letter set,
* per-row payload invariants: caption string equality and decoded-pixel
  fidelity (exact for PNG, PSNR>=40dB for lossy) vs the site's source
  pixels (input_hint).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from film_crawler_spark.functions.images import decode_image, psnr
from film_crawler_spark.operators import frontier as FR
from film_crawler_spark.operators import robots as ROB
from film_crawler_spark.operators.politeness import PolitenessConfig
from film_crawler_spark.operators.fetch import empty_fetch_log
from film_crawler_spark.plans.crawl_loop import CrawlConfig, _dead_letter, metrics_view, run_crawl
from film_crawler_spark.simulator import simulate
from film_crawler_spark.sources.synthetic_site import SiteConfig, SyntheticSite, make_seed_ids
from film_crawler_spark.sources.tableio import TableIO

SITE = SiteConfig(max_images_per_title=60)
POL = PolitenessConfig(budget_html=16, budget_img=200)
# 14 raw ids -> 9 distinct; includes BOTH title layouts (P6) so the
# dual-layout dispatch is exercised by the replay gate
SEEDS = make_seed_ids(14)


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    cfg = CrawlConfig(warehouse=wh, site=SITE, politeness=POL, max_iterations=32)
    run_crawl(spark, SEEDS, cfg)
    return TableIO(spark, wh)


@pytest.fixture(scope="module")
def sim():
    return simulate(SEEDS, SITE, POL, reverse_seeds=True, max_iterations=32)


def test_exact_fetch_order_per_host(crawled, sim):
    log = (
        crawled.read_log("fetch_log")
        .select("host", "iteration", "priority", "seq", "canon_url")
        .collect()
    )
    engine_order: dict[str, list[str]] = {}
    for r in sorted(log, key=lambda r: (r["iteration"], r["priority"], r["seq"])):
        engine_order.setdefault(r["host"], []).append(r["canon_url"])
    assert set(engine_order) == set(sim.fetch_order)
    for host in sim.fetch_order:
        assert engine_order[host] == sim.fetch_order[host], f"order mismatch on {host}"


def test_identical_seen_set(crawled, sim):
    engine_seen = {r["canon_url"] for r in crawled.read_log("seen").select("canon_url").collect()}
    assert engine_seen == sim.seen


def test_identical_dead_letter_set(crawled, sim):
    engine_dead = {
        (r["canon_url"], r["last_error"])
        for r in crawled.read_log("dead_letter").collect()
    }
    assert engine_dead == {(c, f"http_{s}") for c, s in sim.dead}


def test_caption_equality_and_image_set(crawled, sim):
    rows = crawled.read_log("images").select("image_id", "caption").collect()
    engine_caps = {r["image_id"]: r["caption"] for r in rows}
    sim_with_ori = {rm: v for rm, v in sim.images.items() if "ori" in v.get("renditions", {})}
    assert set(engine_caps) == set(sim_with_ori)
    for rm, v in sim_with_ori.items():
        assert engine_caps[rm] == v["caption"], rm
    # the invariant the images caption join relies on: every image's
    # caption was committed in an earlier iteration than the image
    cap_its: dict = {}
    for r in crawled.read_log("captions").select("rm", "iteration").collect():
        cap_its.setdefault(r["rm"], []).append(r["iteration"])
    for r in crawled.read_log("images").select("image_id", "iteration").collect():
        assert cap_its.get(r["image_id"]) and max(cap_its[r["image_id"]]) < r["iteration"], r


def test_person_images_in_flagship_table(crawled, sim):
    """nm photo crawl (reference nm mediaindex probe spiders.py:2172-2189,
    nmImgTags_IMDB caption scrape 5043-5092, main_downloadIMDB_img_nm
    main.py:76-78): person-owned rms reach the flagship images table with
    caption equality, and the renditions table records the nm lineage."""
    nm_rms = {rm for rm, v in sim.images.items()
              if (v.get("owner") or "").startswith("nm") and "ori" in v.get("renditions", {})}
    assert nm_rms  # the fixture world must actually contain person photos
    rows = crawled.read_log("images").select("image_id", "caption").collect()
    engine_caps = {r["image_id"]: r["caption"] for r in rows}
    for rm in nm_rms:
        assert rm in engine_caps
        assert engine_caps[rm] == sim.images[rm]["caption"], rm
    rend_nm = {
        r["rm"]
        for r in crawled.read_log("renditions").filter(F.col("nm").isNotNull()).collect()
    }
    assert nm_rms <= rend_nm


def test_pixel_invariants(crawled):
    site = SyntheticSite(SITE)
    rows = crawled.read_log("images").limit(40).collect()
    assert rows
    lossy_checked = lossless_checked = 0
    for r in rows:
        px, fmt = decode_image(bytes(r["bytes"]))
        assert fmt == r["fmt"] and px.shape[1] == r["w"] and px.shape[0] == r["h"]
        src = site.image_pixels(r["image_id"], "ori")
        if fmt == "png":
            assert np.array_equal(px, src)
            lossless_checked += 1
        else:
            assert psnr(src, px) >= 40.0
            lossy_checked += 1
    assert lossless_checked and lossy_checked


def test_renditions_complete(crawled, sim):
    from film_crawler_spark.plans.crawl_loop import renditions_view

    rend = (
        renditions_view(crawled)
        .groupBy("rm")
        .agg(F.collect_set("rendition").alias("rs"))
        .collect()
    )
    engine = {r["rm"]: set(r["rs"]) for r in rend}
    for rm, v in sim.images.items():
        if v.get("renditions"):
            assert engine.get(rm) == set(v["renditions"]), rm


def test_titles_match(crawled, sim):
    rows = crawled.read_log("titles").select("tt", "n_images").collect()
    assert {r["tt"]: r["n_images"] for r in rows} == sim.titles


def test_sections_match_ground_truth(crawled, sim):
    """F6 fan-out + §2.11 section parsers: every fetched section page's
    parsed rows equal the site's ground-truth rows, in page order."""
    from film_crawler_spark.operators.parse import SECTION_COLUMNS, section_view

    rows = crawled.read_log("sections").collect()
    engine: dict = {}
    for r in sorted(rows, key=lambda r: r["ord"]):
        engine.setdefault((r["tt"], r["section"]), []).append((r["f1"], r["f2"], r["f3"]))
    sim_nonempty = {k: v for k, v in sim.sections.items() if v}
    assert engine == sim_nonempty
    # typed views expose the reference CSV schemas (keywords.csv, ...)
    sec_df = crawled.read_log("sections")
    for sec, cols in SECTION_COLUMNS.items():
        v = section_view(sec_df, sec)
        assert v.columns == ["tt", "ord"] + cols


def test_reviews_match_ground_truth(crawled, sim):
    """S5 load-more reviews: parsed rows equal ground truth, in the
    newest-first reveal order, for every title whose reviews page was
    fetched successfully."""
    rows = crawled.read_log("reviews").collect()
    engine: dict = {}
    for r in sorted(rows, key=lambda r: r["ord"]):
        engine.setdefault(r["tt"] or r["nm"], []).append(
            (r["review_id"], r["rating"], r["title"], r["name"], r["date"], r["text"], r["action"])
        )
    sim_nonempty = {k: v for k, v in sim.reviews.items() if v}
    assert engine == sim_nonempty


def test_persons_match_ground_truth(crawled, sim):
    """Cross-entity crawl (reference nmIMDB spider): every person page
    reached through a fullcredits link yields the ground-truth hero
    fields (person base.csv shape: id, name, jobs, born)."""
    rows = crawled.read_log("persons").collect()
    engine = {r["nm"]: (r["name"], r["jobs"], r["born"], r["n_credits"]) for r in rows}
    assert engine == sim.persons
    assert engine  # the fixture world must actually contain persons


def test_credits_match_ground_truth(crawled, sim):
    """F3 filmography pagination (ceil(n/50), reference spiders.py:2382-
    2407): credits equal ground truth in (page, ord) order per person."""
    rows = crawled.read_log("credits").collect()
    engine: dict = {}
    for r in sorted(rows, key=lambda r: (r["page"], r["ord"])):
        engine.setdefault(r["nm"], []).append((r["tt"], r["title"]))
    sim_nonempty = {k: [tuple(t) for t in v] for k, v in sim.credits.items() if v}
    assert engine == sim_nonempty


def test_metrics_lineage_present(crawled):
    # per-iteration metrics are a view over fetch_log: for every crawl
    # iteration, pages/bytes/attempts per (partition, host, kind, status)
    m = metrics_view(crawled)
    assert m.columns == ["partition_id", "host", "kind", "status", "pages", "bytes", "attempts", "iteration"]

    def add(total, v):  # SQL sum: nulls skipped, null when all are
        return total if v is None else v if total is None else total + v

    want: dict = {}
    for r in crawled.read_log("fetch_log").collect():
        key = (r["iteration"], r["partition_id"], r["host"], r["page_kind"], r["status"])
        pages, nbytes, attempts = want.get(key, (0, None, None))
        want[key] = (pages + 1, add(nbytes, r["body_len"]), add(attempts, r["n_attempts"]))
    got = {(r["iteration"], r["partition_id"], r["host"], r["kind"], r["status"]):
           (r["pages"], r["bytes"], r["attempts"]) for r in m.collect()}
    assert got == want
    assert {k[0] for k in got} == {i for i in crawled.committed_iterations() if i >= 0}
    # every commit carries its iteration trace: per-stage [start_s, end_s]
    # and the adaptive choices taken
    for i in crawled.committed_iterations():
        s = crawled.manifest(i)["summary"]
        assert s["stages"] and all(0 <= a <= b for a, b in s["stages"].values()), i
        assert "decisions" in s, i
        if i >= 0:
            assert {"fetch_log", "thin_fused", "discover", "frontier", "images"} <= set(s["stages"]), i
            assert set(s["decisions"]) == {"dequeue_window", "n_salts", "compact", "robots_restaged"}, i
            # the robots cache is re-staged exactly when robots were fetched
            assert s["decisions"]["robots_restaged"] == (s["robots_fetched"] > 0), i
            assert ("robots" in crawled.manifest(i)["tables"]) == (s["robots_fetched"] > 0), i
        else:
            # the seed commit runs the iteration's admission stages and
            # leaves the hints an iteration leaves for the next one
            assert set(s["stages"]) == {"discover", "frontier", "robots_tables"}
            assert s["init_seeds"] == len(set(SEEDS))
            assert 0 < s["pending_next"] == s["pending_next_html"] <= s["init_seeds"]
            assert s["pending_next_media"] == 0 and s["robots_fetched"] > 0
    # an iteration reads its committed inputs with these explicit schemas
    # (no inference job); each has the inferred columns, types and
    # nullability. Parquet resolves columns by name, and only their order
    # may differ: a staged frontier leads with FR.remaining's join keys.
    def fields(df):
        return {f.name: f for f in df.schema.fields}

    seen_schema = crawled.read_log("fetch_log").select("canon_url", "url_hash", "shard", "host", "status").schema
    flog = empty_fetch_log(crawled.spark)
    for read, table, schema in [(crawled.read_snapshot, "frontier", FR.FRONTIER_SCHEMA),
                                (crawled.read_snapshot, "robots", ROB.ROBOTS_SCHEMA),
                                (crawled.read_log, "seen", seen_schema),
                                (crawled.read_log, "fetch_log", flog.schema),
                                (crawled.read_log, "dead_letter", _dead_letter(flog, 0).schema)]:
        assert fields(read(table, schema=schema)) == fields(read(table)), table


def test_videos_match_ground_truth(crawled, sim):
    """F2 video crawl end-to-end (reference getAllvideos/get_cur_video +
    mp4 download): video-set equality, mp4 URL equality, byte-size and
    payload equality vs the site's source bytes."""
    rows = crawled.read_log("videos").collect()
    engine = {r["vi"]: (r["tt"], r["nm"], r["mp4_url"]) for r in rows}
    assert engine == sim.videos
    assert any(nm for _tt, nm, _u in engine.values())  # person videos present
    assert engine  # the fixture world must actually contain videos
    vf_rows = crawled.read_log("video_files").collect()
    assert {r["vi"]: r["n_bytes"] for r in vf_rows} == sim.video_files
    site = SyntheticSite(SITE)
    for r in vf_rows[:10]:
        assert bytes(r["bytes"]) == site.video_bytes(r["vi"])


def test_news_match_ground_truth(crawled, sim):
    """News scroll crawl (reference news_selenium + getEachNews): 8-col
    rows equal ground truth in OLDEST-first order (O5 reversal)."""
    rows = crawled.read_log("news").collect()
    engine: dict = {}
    for r in sorted(rows, key=lambda r: r["ord"]):
        engine.setdefault(r["tt"] or r["nm"], []).append(
            (r["title"], r["url"], r["date"], r["author"], r["source"],
             r["img_url"], r["img_alt"], r["content"])
        )
    sim_nonempty = {k: [tuple(t) for t in v] for k, v in sim.news.items() if v}
    assert engine == sim_nonempty
    assert engine
    assert any(k.startswith("nm") for k in engine)  # person news present


def test_ratings_match_ground_truth(crawled, sim):
    """Ratings page crawl (reference getRatings): all three tables plus
    the demographics MapType column equal ground truth."""
    rows = crawled.read_log("ratings").collect()
    engine = {r["tt"]: r for r in rows}
    assert set(engine) == set(sim.ratings)
    assert engine
    for tt, f in sim.ratings.items():
        r = engine[tt]
        assert r["tot_users"] == f["tot_users"]
        assert r["weighted_avg"] == f["weighted"]
        assert r["rating_by_score"] == f["by_score"]
        assert r["arithmetic_mean"] == f["mean"]
        assert r["median"] == f["median"]
        assert dict(r["rating_by_demographic"]) == f["demo"]
        assert r["rating_by_users"] == f["by_users"]
        # K2 time-series column: iteration-derived synthetic time_stamp
        # (reference spiders.py:5037), replayed exactly by the simulator
        assert r["fetched_at"] == f["fetched_at"]


def test_psections_match_ground_truth(crawled, sim):
    """Person aux sections (reference bio/otherworks/publicity/
    external_sites/6-col awards): parsed rows equal ground truth; typed
    views expose the reference CSV schemas."""
    from film_crawler_spark.operators.parse import PSECTION_COLUMNS, psection_view

    rows = crawled.read_log("psections").collect()
    engine: dict = {}
    for r in sorted(rows, key=lambda r: r["ord"]):
        engine.setdefault((r["nm"], r["section"]), []).append(
            tuple(r[f"f{i}"] for i in range(1, 7))
        )
    sim_nonempty = {k: [tuple(t) for t in v] for k, v in sim.psections.items() if v}
    assert engine == sim_nonempty
    assert engine
    ps = crawled.read_log("psections")
    for sec, cols in PSECTION_COLUMNS.items():
        assert psection_view(ps, sec).columns == ["nm", "ord"] + cols


def test_events_match_ground_truth(crawled, sim):
    """Event (ev) entity crawl under the dual-layout dispatch (P6): hero
    + 9-col award rows equal ground truth; BOTH layouts exercised."""
    rows = crawled.read_log("events_base").collect()
    engine = {r["ev"]: (r["name"], r["sub_name"], r["year"], r["layout"]) for r in rows}
    assert engine == sim.events
    assert engine
    assert {v[3] for v in engine.values()} == {"dom", "json"}
    aw: dict = {}
    for r in sorted(crawled.read_log("event_awards").collect(), key=lambda r: r["ord"]):
        aw.setdefault(r["ev"], []).append(
            (r["award_name"], r["cate_name"], r["is_winner"], r["img_url"],
             r["primary_names"], r["primary_ids"], r["secondary_names"],
             r["secondary_ids"], r["notes"])
        )
    sim_nonempty = {k: [tuple(t) for t in v] for k, v in sim.event_awards.items() if v}
    assert aw == sim_nonempty


def test_companies_match_ground_truth(crawled, sim):
    """Company (co) crawl (reference search pagination + get_curPage_co):
    base fields and 15-field film rows equal ground truth in (page, ord)
    order."""
    from film_crawler_spark.operators.parse import CO_FILM_FIELDS

    rows = crawled.read_log("companies_base").collect()
    engine = {r["co"]: (r["name"], r["n_titles"]) for r in rows}
    assert engine == sim.companies
    assert engine
    films: dict = {}
    for r in sorted(crawled.read_log("company_films").collect(),
                    key=lambda r: (r["page"], r["ord"])):
        films.setdefault(r["co"], []).append(tuple(r[c] for c in CO_FILM_FIELDS))
    sim_nonempty = {k: [tuple(t) for t in v] for k, v in sim.company_films.items() if v}
    assert films == sim_nonempty


def test_dual_layout_titles(crawled, sim):
    """P6 on title pages: hero fields parse correctly under BOTH layouts
    (old class selectors and data-testid fallback)."""
    site = SyntheticSite(SITE)
    rows = crawled.read_log("titles").collect()
    n_a = n_b = 0
    for r in rows:
        name, rating, meta = site.hero_fields(r["tt"])
        assert r["name"] == name
        assert f"{r['rating']:.1f}" == rating
        assert str(r["metascore"]) == meta
        if site.uses_alt_layout(r["tt"]):
            n_b += 1
        else:
            n_a += 1
    assert n_a and n_b  # both layouts must appear in the fixture world


def test_robots_respected(crawled, sim):
    """No fetched URL may fall under a robots-disallowed prefix, and the
    engine records the denied seeds (north_rule robots handling)."""
    site = SyntheticSite(SITE)
    fetched = [r["canon_url"] for r in crawled.read_log("fetch_log").select("canon_url").collect()]
    for u in fetched:
        assert "/private/" not in u
    denied = crawled.read_log("robots_denied")
    blocked_seeds = {s for s in set(SEEDS) if site.is_private(s)}
    denied_tts = {
        r["canon_url"].split("/title/")[1].rstrip("/")
        for r in denied.collect()
    }
    assert denied_tts == blocked_seeds


# ---------------------------------------------------------------------------
# crawl -> supplement -> resumed crawl == uninterrupted crawl (round-4
# verdict item #5). The supplement commit sits BETWEEN two crawl
# iterations and forwards the manifest hints (seen_total / pending_next
# / pending_next_html / pending_next_media, crawl_loop._commit) that
# the next run_iteration's salting and dequeue-skip proof consume. A
# wrong hint would silently change physical plans while staying
# replay-identical by design — so
# this gate pins exactly that: every sink table and the per-host fetch
# order must match the uninterrupted crawl byte-for-byte, modulo the
# one documented artifact of interleaving (the supplement consumes one
# iteration number, so all later iteration-derived values shift by
# exactly +1 — the comparison remaps them back rather than dropping
# them).

from collections import Counter

SUPP_SITE = SiteConfig(max_images_per_title=10, max_images_per_person=5,
                       max_videos_per_title=5, max_videos_per_person=3)
SUPP_SEEDS = make_seed_ids(8)
_ITER_COLS = {"iteration", "discovered_at_iter"}


def _norm_val(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, dict):
        return tuple(sorted(v.items()))
    if isinstance(v, list):
        return tuple(_norm_val(x) for x in v)
    return v


def _table_counter(io, table, supp_it=None, time_remap=None):
    """Row multiset of a sink table or of ``metrics`` (a view over
    fetch_log); when supp_it is given, the supplement's own fetch_log
    lineage rows (and their metrics) are excluded and every
    iteration-derived value > supp_it is shifted back by 1 (incl. the
    ratings fetched_at crawl-clock timestamps via time_remap)."""
    df = metrics_view(io) if table == "metrics" else io.read_log(table)
    if df is None:
        return None
    names = df.columns
    out = Counter()
    for r in df.collect():
        d = r.asDict(recursive=True)
        if supp_it is not None and table in ("fetch_log", "metrics") and d.get("iteration") == supp_it:
            continue
        vals = []
        for c in names:
            v = d[c]
            if supp_it is not None:
                if c in _ITER_COLS and isinstance(v, int) and v > supp_it:
                    v -= 1
                elif c == "fetched_at" and time_remap and v in time_remap:
                    v = time_remap[v]
            vals.append(_norm_val(v))
        out[tuple(vals)] += 1
    return out


def _fetch_order(io, supp_it=None):
    rows = (
        io.read_log("fetch_log")
        .select("host", "iteration", "priority", "seq", "canon_url")
        .collect()
    )
    if supp_it is not None:
        rows = [r for r in rows if r["iteration"] != supp_it]
    order: dict[str, list[str]] = {}
    for r in sorted(rows, key=lambda r: (r["iteration"], r["priority"], r["seq"])):
        order.setdefault(r["host"], []).append(r["canon_url"])
    return order


def test_supplement_interleaved_resume_replays_identically(spark, tmp_path_factory):
    from film_crawler_spark.operators.parse import synthetic_fetch_time
    from film_crawler_spark.plans.crawl_loop import RESULT_TABLES
    from film_crawler_spark.plans.supplement import run_supplement

    pol = PolitenessConfig(budget_html=16, budget_img=200)

    # A: crawl 3 iterations, supplement (unchanged site), resume to done
    wh_a = str(tmp_path_factory.mktemp("wh_interleave"))
    cfg_a = CrawlConfig(warehouse=wh_a, site=SUPP_SITE, politeness=pol,
                        max_iterations=3)
    res_a1 = run_crawl(spark, SUPP_SEEDS, cfg_a)
    assert res_a1["iterations"][-1]["pending_next"] > 0, (
        "interruption must land mid-crawl for the gate to mean anything"
    )
    io_a = TableIO(spark, wh_a)
    supp = run_supplement(spark, cfg_a, kinds=("reviews", "news"))
    supp_it = supp["iteration"]
    assert supp["refetched"] > 0  # the supplement actually re-fetched pages
    assert supp["reviews_new"] == 0 and supp["news_new"] == 0  # site unchanged
    assert io_a.manifest(supp_it).get("supplement") is True
    assert set(io_a.manifest(supp_it)["summary"]["stages"]) == {"refetch", "reviews", "news", "fetch_log"}
    res_a2 = run_crawl(
        spark, SUPP_SEEDS,
        CrawlConfig(warehouse=wh_a, site=SUPP_SITE, politeness=pol,
                    max_iterations=33),
    )
    assert res_a2["iterations"], "resume after the supplement ran no iterations"
    assert res_a2["iterations"][-1]["pending_next"] == 0

    # B: the same crawl, uninterrupted
    wh_b = str(tmp_path_factory.mktemp("wh_plain"))
    run_crawl(spark, SUPP_SEEDS,
              CrawlConfig(warehouse=wh_b, site=SUPP_SITE, politeness=pol,
                          max_iterations=32))
    io_b = TableIO(spark, wh_b)

    # iteration-clock remap for the ratings time-series column
    time_remap = {
        synthetic_fetch_time(j): synthetic_fetch_time(j - 1)
        for j in range(supp_it + 1, 40)
    }

    assert _fetch_order(io_a, supp_it) == _fetch_order(io_b)
    for t in [*RESULT_TABLES, "metrics"]:
        a = _table_counter(io_a, t, supp_it=supp_it, time_remap=time_remap)
        b = _table_counter(io_b, t)
        if a is None and b is None:
            continue
        assert a == b, f"table {t} diverged after interleaved supplement"

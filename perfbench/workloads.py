"""Benchmark workloads: seeded synthetic worlds and the output checks.

Each workload is one crawl into a fresh warehouse, in a freshly launched
JVM, so the crawl includes the JVM's first-use cost (class loading, code
generation) as a short crawl job does. The traced run then re-crawls the
same warehouse (``run_supplement``, then ``run_repair``) or runs the
query suite, as the workload's ``traced_phase`` says. The checks read
the committed parquet with pyarrow, not with the engine's reader, so they
cost little and do not share code with what they check.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os

import pyarrow.parquet as pq

from film_crawler_spark.operators.politeness import PolitenessConfig
from film_crawler_spark.plans.crawl_loop import CrawlConfig
from film_crawler_spark.sources.synthetic_site import SiteConfig, make_seed_ids

UNBOUNDED = 1_000_000
SUPPLEMENT_KINDS = ("reviews", "news", "ratings")
SUPPLEMENT_EXTRA = 2  # new review and news children per page for the re-crawl


@dataclasses.dataclass(frozen=True)
class World:
    n_seeds: int  # raw seed ids; make_seed_ids repeats about a third of them
    budget_html: int
    max_iterations: int
    # what the traced run does after the crawl, in the same JVM: "recrawl"
    # (run_supplement, run_repair) or "queries" (query suite and stream);
    # both at once would not end within the time a run may take
    traced_phase: str
    images_per_title: int = 0
    videos_per_title: int = 0


WORLDS = {
    # two thin iterations: a per-host page budget of 4 binds on every host
    # (16 fetches each), so the dequeue window runs and the per-iteration
    # floor is the wall time
    "crawl_pages": World(n_seeds=100, budget_html=4, max_iterations=2, traced_phase="queries"),
    # four breadth-first waves with no binding budget; the fourth fetches
    # the photo and video blobs (decode, phash, blob writes). Its review,
    # news and ratings pages give the re-crawl work.
    "crawl_media": World(n_seeds=10, budget_html=UNBOUNDED, max_iterations=4,
                         traced_phase="recrawl", images_per_title=30, videos_per_title=4),
}

TINY = {
    "crawl_pages": World(n_seeds=8, budget_html=4, max_iterations=2, traced_phase="queries"),
    "crawl_media": World(n_seeds=3, budget_html=UNBOUNDED, max_iterations=4,
                         traced_phase="recrawl", images_per_title=3, videos_per_title=1),
}


@dataclasses.dataclass(frozen=True)
class Inputs:
    seeds: list[str]
    site: SiteConfig
    politeness: PolitenessConfig
    max_iterations: int
    traced_phase: str

    def crawl_config(self, warehouse: str) -> CrawlConfig:
        return CrawlConfig(warehouse=warehouse, site=self.site,
                           politeness=self.politeness, max_iterations=self.max_iterations)

    def supplement_config(self, warehouse: str) -> CrawlConfig:
        """The same site after it grew new review and news children."""
        grown = dataclasses.replace(self.site, supplement_extra=SUPPLEMENT_EXTRA)
        return CrawlConfig(warehouse=warehouse, site=grown, politeness=self.politeness)

    def repair_config(self, warehouse: str) -> CrawlConfig:
        """One crawl iteration after the repair frontier is committed."""
        return CrawlConfig(warehouse=warehouse, site=self.site,
                           politeness=self.politeness, max_iterations=1)


def make_inputs(workload: str, seed: int, tiny: bool = False) -> Inputs:
    """Persons carry no photos or videos; titles carry the world's share."""
    w = (TINY if tiny else WORLDS)[workload]
    site = SiteConfig(seed=seed, max_images_per_title=w.images_per_title,
                      max_videos_per_title=w.videos_per_title,
                      max_images_per_person=0, max_videos_per_person=0)
    pol = PolitenessConfig(budget_html=w.budget_html, budget_img=UNBOUNDED)
    return Inputs(make_seed_ids(w.n_seeds, seed=seed), site, pol, w.max_iterations,
                  w.traced_phase)


# -- reading committed tables ---------------------------------------------


def manifests(wh: str) -> dict[int, dict]:
    """Committed manifests by iteration."""
    out = {}
    for path in glob.glob(os.path.join(wh, "_commits", "*.json")):
        with open(path) as f:
            m = json.load(f)
        out[m["iteration"]] = m
    return out


def committed_dirs(wh: str, table: str) -> list[str]:
    """The committed directories of a log table; a compacted base
    supersedes every earlier delta."""
    dirs: list[str] = []
    for i, m in sorted(manifests(wh).items()):
        d = os.path.join(wh, table, f"it={i}")
        if table in m["tables"] and os.path.isdir(d):
            dirs = [d] if m.get("bases", {}).get(table) == i else dirs + [d]
    return dirs


def parquet_files(dirs: list[str]) -> list[str]:
    return [f for d in dirs for f in sorted(glob.glob(os.path.join(d, "*.parquet")))]


def count_rows(wh: str, table: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in parquet_files(committed_dirs(wh, table)))


def read_rows(wh: str, table: str, columns: list[str]) -> list[dict]:
    return [r for f in parquet_files(committed_dirs(wh, table))
            for r in pq.read_table(f, columns=columns).to_pylist()]


# -- output checks --------------------------------------------------------


def expected(inputs: Inputs):
    """The serial simulator's trace for these inputs."""
    from film_crawler_spark import simulator

    return simulator.simulate(inputs.seeds, inputs.site, inputs.politeness,
                              reverse_seeds=True, max_iterations=inputs.max_iterations)


def check_crawl(wh: str, sim) -> list[str]:
    """Committed crawl tables vs the simulator: per-host fetch order,
    seen set, dead-letter set, per-table rows."""
    problems = []
    log = read_rows(wh, "fetch_log", ["host", "iteration", "priority", "seq", "canon_url"])
    order: dict[str, list[str]] = {}
    for r in sorted(log, key=lambda r: (r["iteration"], r["priority"], r["seq"])):
        order.setdefault(r["host"], []).append(r["canon_url"])
    if order != sim.fetch_order:
        problems.append("per-host fetch order differs from the simulator")
    seen = {r["canon_url"] for r in read_rows(wh, "seen", ["canon_url"])}
    if seen != sim.seen:
        problems.append(f"seen set: {len(seen)} urls vs {len(sim.seen)} simulated")
    dead = {(r["canon_url"], r["last_error"])
            for r in read_rows(wh, "dead_letter", ["canon_url", "last_error"])}
    if dead != {(c, f"http_{s}") for c, s in sim.dead}:
        problems.append(f"dead-letter set: {len(dead)} vs {len(sim.dead)} simulated")
    want = {
        "titles": len(sim.titles),
        "persons": len(sim.persons),
        "images": sum(1 for v in sim.images.values() if "ori" in v.get("renditions", {})),
        "videos": len(sim.videos),
        "video_files": len(sim.video_files),
        "reviews": sum(len(v) for v in sim.reviews.values()),
        "news": sum(len(v) for v in sim.news.values()),
        "ratings": len(sim.ratings),
        "sections": sum(len(v) for v in sim.sections.values()),
    }
    for table, n in want.items():
        got = count_rows(wh, table)
        if got != n:
            problems.append(f"{table}: {got} rows vs {n} simulated")
    return problems


def expected_supplement(wh: str) -> dict[str, int]:
    """Appended counts of a supplement run over the committed crawl: every
    page of a re-crawled kind that was fetched OK gains SUPPLEMENT_EXTRA
    review or news children, and every ratings page gains one dated row."""
    pages: dict[str, set] = {k: set() for k in SUPPLEMENT_KINDS}
    for r in read_rows(wh, "fetch_log", ["canon_url", "page_kind", "status", "budget_denied"]):
        if r["page_kind"] in pages and r["status"] == 200 and not r["budget_denied"]:
            pages[r["page_kind"]].add(r["canon_url"])
    return {
        "reviews_new": SUPPLEMENT_EXTRA * len(pages["reviews"]),
        "news_new": SUPPLEMENT_EXTRA * len(pages["news"]),
        "ratings_new": len(pages["ratings"]),
        "refetched": sum(len(p) for p in pages.values()),
    }


def expected_repair_enqueued(wh: str) -> int:
    """Rows of the repair frontier: what was still pending, plus every
    dead-lettered URL that never fetched OK."""
    last = max(manifests(wh))
    pending = manifests(wh)[last]["summary"]["pending_next"]
    ok = {r["canon_url"] for r in read_rows(wh, "fetch_log", ["canon_url", "status"])
          if r["status"] == 200}
    dead = {r["canon_url"] for r in read_rows(wh, "dead_letter", ["canon_url"])}
    return pending + len(dead - ok)

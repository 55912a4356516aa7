"""Serial reference simulator — the golden oracle for replay semantics.

A deliberately naive, single-threaded reimplementation of the crawl
policy the engine distributes: the reference's loop semantics (sort →
reverse → epoch-slice → skip-if-seen → paginate → download; reference
spiders.py:85-99, 172-173, 208-308, 705-790, 2936-2961) expressed over
the same synthetic site and the same per-host budgets. No Spark, no
partitioning, no joins — just ordered lists and sets.

The engine's correctness gate (BASELINE.json: "exact frontier ordering
per host + identical final URL-seen set") is an equality assertion
between this simulator's trace and the engine's committed tables. If
the distributed dequeue (salted two-phase top-k), the anti-join seen
filter, or the commit protocol ever reorder or lose a URL, the
golden tests catch it.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from film_crawler_spark.functions.urls import canonicalize_url, n_pages, ori_url, url_host
from film_crawler_spark.operators.frontier import child_seq, seed_seq
from film_crawler_spark.operators.parse import synthetic_fetch_time
from film_crawler_spark.operators.politeness import PolitenessConfig
from film_crawler_spark.sources.synthetic_site import (
    MEDIA_KINDS, PER_PAGE, PER_PAGE_CO, PER_PAGE_HIST, PER_PAGE_VIDEO,
    PSECTIONS, SECTIONS, SiteConfig, SyntheticSite,
)

# both title layouts (P6): class selector or data-testid fallback
_RE_COUNT = re.compile(r'(?:class="image-count"|data-testid="photos-link")>([\d,]+) Photos')
_RE_GRID = re.compile(r'href="(/(?:title|name)/((?:tt|nm)\d+)/mediaviewer/(rm\d+))"')
_RE_SIZED = re.compile(r'data-size="(small|large)" src="([^"]+)"')
_RE_CAPTION = re.compile(r'class="caption">(.*?)</div>')


@dataclass(order=True)
class SimRow:
    priority: int
    seq: str
    url: str = field(compare=False)
    canon: str = field(compare=False)
    host: str = field(compare=False)
    depth: int = field(compare=False)
    kind: str = field(compare=False)
    tt: str = field(compare=False, default=None)
    rm: str = field(compare=False, default=None)
    nm: str = field(compare=False, default=None)
    vi: str = field(compare=False, default=None)
    ev: str = field(compare=False, default=None)
    co: str = field(compare=False, default=None)


@dataclass
class SimTrace:
    fetch_order: dict  # host -> [canon urls in fetch order across iterations]
    per_iteration: list  # [{host: [canon urls]}]
    seen: set  # all attempted canon urls
    dead: list  # (canon, status)
    images: dict  # rm -> {"caption": str, "owner": tt|nm, "renditions": {size: nbytes}}
    titles: dict  # tt -> n_images
    sections: dict = field(default_factory=dict)  # (tt, sec) -> [(f1, f2, f3)]
    reviews: dict = field(default_factory=dict)  # tt -> [review tuples]
    persons: dict = field(default_factory=dict)  # nm -> (name, jobs, born, n_credits)
    credits: dict = field(default_factory=dict)  # nm -> [(tt, title)] in (page, ord) order
    videos: dict = field(default_factory=dict)  # vi -> (tt, nm, mp4_url)
    video_files: dict = field(default_factory=dict)  # vi -> n_bytes
    news: dict = field(default_factory=dict)  # (tt|nm) -> [8-col rows] oldest-first
    ratings: dict = field(default_factory=dict)  # tt -> ratings_fields dict
    psections: dict = field(default_factory=dict)  # (nm, sec) -> [(f1..f6)]
    events: dict = field(default_factory=dict)  # ev -> (name, sub, year, layout)
    event_awards: dict = field(default_factory=dict)  # ev -> [9-col rows]
    companies: dict = field(default_factory=dict)  # co -> (name, n_titles)
    company_films: dict = field(default_factory=dict)  # co -> [(15 fields)] in (page, ord) order


def simulate(
    seed_ids: list[str],
    site_cfg: SiteConfig,
    pol: PolitenessConfig,
    reverse_seeds: bool = True,
    max_iterations: int = 64,
) -> SimTrace:
    site = SyntheticSite(site_cfg)

    robots_cache: dict[str, list[str]] = {}

    def robots_allowed(canon: str, host: str) -> bool:
        if host not in robots_cache:
            robots_cache[host] = site.robots(host)["disallow"]
        path = re.sub(r"^https?://[^/]+", "", canon)
        return not any(path.startswith(p) for p in robots_cache[host])

    ids = sorted(set(seed_ids), reverse=reverse_seeds)
    pending: list[SimRow] = []
    for rank, tt in enumerate(ids):
        u = site.title_url(tt)
        canon, host = canonicalize_url(u), url_host(u)
        if robots_allowed(canon, host):
            pending.append(SimRow(0, seed_seq(rank), u, canon, host, 0, "title", tt))

    seen: set[str] = set()
    fetch_order: dict[str, list[str]] = {}
    per_iteration: list[dict] = []
    dead: list = []
    images: dict = {}
    titles: dict = {}
    sections: dict = {}
    reviews: dict = {}
    persons: dict = {}
    credits: dict = {}
    videos: dict = {}
    video_files: dict = {}
    news: dict = {}
    ratings: dict = {}
    psections: dict = {}
    events: dict = {}
    event_awards: dict = {}
    companies: dict = {}
    company_films: dict = {}

    for sim_it in range(max_iterations):
        if not pending:
            break
        # --- dequeue: per-host top-B by (priority, seq), per-kind budget ---
        dequeued: list[SimRow] = []
        by_host: dict[str, list[SimRow]] = {}
        for r in sorted(pending):
            by_host.setdefault(r.host, []).append(r)
        for host, rows in by_host.items():
            html = [r for r in rows if r.kind not in MEDIA_KINDS][: pol.budget_html]
            img = [r for r in rows if r.kind in MEDIA_KINDS][: pol.budget_img]
            dequeued.extend(html + img)
        dq_keys = {(r.canon, r.priority, r.seq) for r in dequeued}
        pending = [r for r in pending if (r.canon, r.priority, r.seq) not in dq_keys]

        # --- fetch in per-host (priority, seq) order ---
        it_order: dict[str, list[str]] = {}
        discovered: list[SimRow] = []
        for host in by_host:
            for r in sorted([d for d in dequeued if d.host == host]):
                it_order.setdefault(host, []).append(r.canon)
                fetch_order.setdefault(host, []).append(r.canon)
                seen.add(r.canon)
                attempt = 1
                res = site.fetch(r.url, attempt)
                cap = (
                    pol.retry_cap_media if r.kind in MEDIA_KINDS else pol.retry_cap_500
                )
                while res.status == 500 and attempt < cap:
                    attempt += 1
                    res = site.fetch(r.url, attempt)
                if res.status != 200:
                    dead.append((r.canon, res.status))
                    continue
                base = f"https://{r.host}"
                if res.kind == "title":
                    m = _RE_COUNT.search(res.text)
                    n = int(m.group(1).replace(",", "")) if m else 0
                    titles[r.tt] = n
                    pages = n_pages(n, PER_PAGE)
                    pr, dp = r.priority + 1, r.depth + 1
                    for p in range(1, pages + 1):
                        u = f"{base}/title/{r.tt}/mediaindex?page={p}"
                        discovered.append(
                            SimRow(pr, child_seq(r.seq, p - 1), u, canonicalize_url(u),
                                   r.host, dp, "mediaindex", r.tt)
                        )
                    for s_i, sec in enumerate(SECTIONS):
                        u = r.url + sec
                        discovered.append(
                            SimRow(pr, child_seq(r.seq, pages + s_i), u, canonicalize_url(u),
                                   r.host, dp, "section", r.tt)
                        )
                    o = pages + len(SECTIONS)
                    for extra_i, (suffix, kind) in enumerate(
                        [("reviews", "reviews"), ("news", "news"), ("ratings", "ratings")]
                    ):
                        u = r.url + suffix
                        discovered.append(
                            SimRow(pr, child_seq(r.seq, o + extra_i), u,
                                   canonicalize_url(u), r.host, dp, kind, r.tt)
                        )
                    nv = site.n_videos(r.tt)
                    for p in range(1, n_pages(nv, PER_PAGE_VIDEO) + 1):
                        u = f"{base}/title/{r.tt}/videogallery?page={p}"
                        discovered.append(
                            SimRow(pr, child_seq(r.seq, o + 3 + p - 1), u,
                                   canonicalize_url(u), r.host, dp, "videogallery", r.tt)
                        )
                elif res.kind == "reviews":
                    reviews[r.tt] = site.review_rows(r.tt)
                elif res.kind == "news":
                    owner = r.tt or r.nm
                    news[owner] = site.news_rows(owner)  # oldest-first (O5)
                elif res.kind == "ratings":
                    # fetched_at: the engine stamps ratings rows with the
                    # iteration-derived synthetic clock (time-series K2);
                    # the sim's loop index IS the engine iteration number
                    ratings[r.tt] = {
                        **site.ratings_fields(r.tt),
                        "fetched_at": synthetic_fetch_time(sim_it),
                    }
                elif res.kind == "videogallery":
                    owner = r.tt or r.nm
                    pm = re.search(r"data-page='(\d+)'", res.text)
                    page = int(pm.group(1)) if pm else 1
                    first = (page - 1) * PER_PAGE_VIDEO
                    last = min(page * PER_PAGE_VIDEO, site.n_videos(owner))
                    for j, i in enumerate(range(first, last)):
                        vi = site.vi_id(owner, i)
                        u = f"{base}/videoplayer/{vi}"
                        discovered.append(
                            SimRow(r.priority + 1, child_seq(r.seq, j), u, canonicalize_url(u),
                                   r.host, r.depth + 1, "video_player", r.tt, nm=r.nm, vi=vi)
                        )
                elif res.kind == "video_player":
                    mp4 = site.mp4_url(r.vi)
                    videos[r.vi] = (r.tt, r.nm, mp4)
                    discovered.append(
                        SimRow(r.priority + 1, child_seq(r.seq, 0), mp4, canonicalize_url(mp4),
                               url_host(mp4), r.depth + 1, "video_blob", r.tt, nm=r.nm, vi=r.vi)
                    )
                elif res.kind == "video_blob":
                    video_files[r.vi] = len(res.body)
                elif res.kind == "section":
                    # ground truth straight from the site (NOT the engine's
                    # parser) — engine-parsed rows must equal these
                    sec = res.meta["sec"]
                    rows_gt = site.section_rows(r.tt, sec)
                    sections[(r.tt, sec)] = rows_gt
                    if sec == "fullcredits":
                        for j, (nm_id, _n, _c) in enumerate(rows_gt):
                            u = site.person_url(nm_id)
                            discovered.append(
                                SimRow(r.priority + 1, child_seq(r.seq, j), u, canonicalize_url(u),
                                       url_host(u), r.depth + 1, "person", None, None, nm_id)
                            )
                    elif sec == "awards":
                        for j, (_t, ev_id, _d) in enumerate(rows_gt):
                            u = site.event_url(ev_id)
                            discovered.append(
                                SimRow(r.priority + 1, child_seq(r.seq, j), u, canonicalize_url(u),
                                       url_host(u), r.depth + 1, "event", ev=ev_id)
                            )
                    elif sec == "companies":
                        for j, (_t, _n2, co_id) in enumerate(rows_gt):
                            u = site.company_url(co_id)
                            discovered.append(
                                SimRow(r.priority + 1, child_seq(r.seq, j), u, canonicalize_url(u),
                                       url_host(u), r.depth + 1, "company", co=co_id)
                            )
                elif res.kind == "person":
                    persons[r.nm] = (
                        site.person_name(r.nm), site.person_jobs(r.nm),
                        site.person_born(r.nm), site.n_credits(r.nm),
                    )
                    # reference nm execution order (spiders.py:2172-2225):
                    # photos, videos, filmography, aux sections, news last
                    # (nmIMDB_news, spiders.py:4765-4864)
                    pr, dp = r.priority + 1, r.depth + 1
                    mp = n_pages(site.n_images(r.nm), PER_PAGE)
                    for p in range(1, mp + 1):
                        u = f"{base}/name/{r.nm}/mediaindex?page={p}"
                        discovered.append(
                            SimRow(pr, child_seq(r.seq, p - 1), u, canonicalize_url(u),
                                   r.host, dp, "mediaindex", None, None, r.nm)
                        )
                    vp = n_pages(site.n_videos(r.nm), PER_PAGE_VIDEO)
                    for p in range(1, vp + 1):
                        u = f"{base}/name/{r.nm}/videogallery?page={p}"
                        discovered.append(
                            SimRow(pr, child_seq(r.seq, mp + p - 1), u, canonicalize_url(u),
                                   r.host, dp, "videogallery", None, None, r.nm)
                        )
                    o = mp + vp
                    n_cred = site.n_credits(r.nm)
                    fp = n_pages(n_cred, PER_PAGE_HIST)
                    for p in range(1, fp + 1):
                        u = f"{base}/name/{r.nm}/filmosearch?page={p}"
                        discovered.append(
                            SimRow(pr, child_seq(r.seq, o + p - 1), u, canonicalize_url(u),
                                   r.host, dp, "filmo", None, None, r.nm)
                        )
                    for s_i, sec in enumerate(PSECTIONS):
                        u = f"{base}/name/{r.nm}/{sec}"
                        discovered.append(
                            SimRow(pr, child_seq(r.seq, o + fp + s_i), u, canonicalize_url(u),
                                   r.host, dp, "psection", None, None, r.nm)
                        )
                    u = f"{base}/name/{r.nm}/news"
                    discovered.append(
                        SimRow(pr, child_seq(r.seq, o + fp + len(PSECTIONS)), u,
                               canonicalize_url(u), r.host, dp, "news", None, None, r.nm)
                    )
                elif res.kind == "psection":
                    psections[(r.nm, res.meta["sec"])] = site.psection_rows(r.nm, res.meta["sec"])
                elif res.kind == "event":
                    name, sub, year = site.event_fields(r.ev)
                    layout = "json" if site.uses_alt_layout(r.ev) else "dom"
                    # the embedded-JSON layout carries no subtitle field
                    # (reference sets sub_name="" there, spiders.py:2790)
                    events[r.ev] = (name, sub if layout == "dom" else "", year, layout)
                    event_awards[r.ev] = site.event_award_rows(r.ev)
                elif res.kind == "company":
                    companies[r.co] = (site.company_name(r.co), site.n_co_titles(r.co))
                    n_t = site.n_co_titles(r.co)
                    for p in range(n_pages(n_t, PER_PAGE_CO)):
                        u = f"{r.url}&start={1 + p * PER_PAGE_CO}"
                        discovered.append(
                            SimRow(r.priority + 1, child_seq(r.seq, p), u, canonicalize_url(u),
                                   r.host, r.depth + 1, "co_page", co=r.co)
                        )
                elif res.kind == "co_page":
                    sm = re.search(r"data-start='(\d+)'", res.text)
                    start = int(sm.group(1)) if sm else 1
                    page = (start - 1) // PER_PAGE_CO + 1
                    first = start - 1
                    last = min(first + PER_PAGE_CO, site.n_co_titles(r.co))
                    company_films.setdefault(r.co, {})[page] = [
                        site.co_film_row(r.co, i) for i in range(first, last)
                    ]
                elif res.kind == "filmo":
                    pm = re.search(r"data-page='(\d+)'", res.text)
                    page = int(pm.group(1)) if pm else 0
                    first = (page - 1) * PER_PAGE_HIST
                    n_cred = site.n_credits(r.nm)
                    credits.setdefault(r.nm, {})[page] = [
                        site.credit_tt(r.nm, i)
                        for i in range(first, min(page * PER_PAGE_HIST, n_cred))
                    ]
                elif res.kind == "mediaindex":
                    for j, m in enumerate(_RE_GRID.finditer(res.text)):
                        u = base + m.group(1)
                        owner = m.group(2)
                        discovered.append(
                            SimRow(r.priority + 1, child_seq(r.seq, j), u, canonicalize_url(u),
                                   r.host, r.depth + 1, "photo_detail",
                                   owner if owner.startswith("tt") else None,
                                   m.group(3),
                                   owner if owner.startswith("nm") else None)
                        )
                elif res.kind == "photo_detail":
                    cap_m = _RE_CAPTION.search(res.text)
                    entry = images.setdefault(r.rm, {"renditions": {}})
                    entry["caption"] = cap_m.group(1) if cap_m else None
                    entry["owner"] = r.tt or r.nm
                    sized = dict(_RE_SIZED.findall(res.text))
                    small, large = sized.get("small"), sized.get("large")
                    if small and large:
                        for j, u in enumerate([small, large, ori_url(large)]):
                            discovered.append(
                                SimRow(r.priority + 1, child_seq(r.seq, j), u, canonicalize_url(u),
                                       url_host(u), r.depth + 1, "image_blob", r.tt, r.rm, r.nm)
                            )
                elif res.kind == "image_blob":
                    images.setdefault(r.rm, {"renditions": {}})["renditions"][
                        res.meta["size"]
                    ] = len(res.body)

        # --- dedup within iteration (keep min priority, seq), seen filter ---
        best: dict[str, SimRow] = {}
        for d in sorted(discovered):
            best.setdefault(d.canon, d)
        pending_canons = {r.canon for r in pending}
        new = [
            d
            for d in best.values()
            if d.canon not in seen
            and d.canon not in pending_canons
            and robots_allowed(d.canon, d.host)
        ]
        pending.extend(new)
        per_iteration.append(it_order)

    flat_credits = {
        nm: [t for page in sorted(pages) for t in pages[page]]
        for nm, pages in credits.items()
    }
    flat_co_films = {
        co: [t for page in sorted(pages) for t in pages[page]]
        for co, pages in company_films.items()
    }
    return SimTrace(fetch_order, per_iteration, seen, dead, images, titles,
                    sections, reviews, persons, flat_credits,
                    videos, video_files, news, ratings, psections,
                    events, event_awards, companies, flat_co_films)

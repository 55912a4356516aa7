"""The parse stage: fetched pages -> extracted rows + discovered URLs.

One Arrow-batched pass per output family, dispatching on ``page_kind``
— the Spark restatement of the reference's per-page-type ``get*``
parsers (SURVEY.md §2.11; e.g. hero fields spiders.py:339-362, photo
grid spiders.py:730-772, photo modal captions spiders.py:1734-1857).
Parsers are regex over the synthetic bodies; the *shapes* (what is
extracted, what fans out, in what order) are the reference's.

Discovery ordering: every discovered URL carries seq = child_seq(parent
seq, ordinal) where ordinal is its position on the page — grid order for
photos (the reference preserves pool.map input order, spiders.py:749-
755), page number for pagination, {small, large, ori} = {0, 1, 2} for
renditions (reference download order, spiders.py:2936-2961).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from film_crawler_spark.functions.urls import canonicalize_url, n_pages, ori_url, url_host
from film_crawler_spark.operators.frontier import FRONTIER_SCHEMA, child_seq
from film_crawler_spark.sources.synthetic_site import (
    MEDIA_KINDS, PER_PAGE, PER_PAGE_CO, PER_PAGE_HIST, PER_PAGE_VIDEO,
    PSECTIONS, SECTIONS,
)

# frontier columns the parse UDF emits; url_hash/shard are added JVM-side
# afterwards (xxhash64/murmur3 must come from Spark so they are the same
# bits everywhere), attempts/discovered_at_iter by the crawl loop.
DISCOVERED_SCHEMA = T.StructType(
    [f for f in FRONTIER_SCHEMA.fields
     if f.name not in ("url_hash", "shard", "attempts", "discovered_at_iter")]
)

TITLE_SCHEMA = T.StructType(
    [
        T.StructField("tt", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("rating", T.DoubleType()),
        T.StructField("metascore", T.IntegerType()),
        T.StructField("n_images", T.IntegerType()),
    ]
)

CAPTION_SCHEMA = T.StructType(
    [
        T.StructField("rm", T.StringType()),
        T.StructField("tt", T.StringType()),
        T.StructField("nm", T.StringType()),
        T.StructField("caption", T.StringType()),
    ]
)

SECTION_SCHEMA = T.StructType(
    [
        T.StructField("tt", T.StringType()),
        T.StructField("section", T.StringType()),
        T.StructField("ord", T.IntegerType()),
        T.StructField("f1", T.StringType()),
        T.StructField("f2", T.StringType()),
        T.StructField("f3", T.StringType()),
    ]
)

# counts appear under BOTH layouts (P6): layout A class selectors, layout
# B data-testid (reference's try/except becomes a regex alternation here;
# the HERO parse below keeps the explicit two-step dispatch)
_RE_COUNT = re.compile(r'(?:class="image-count"|data-testid="photos-link")>([\d,]+) Photos')
_RE_VCOUNT = re.compile(r'(?:class="video-count"|data-testid="videos-link")>([\d,]+) Videos')
_RE_HERO = re.compile(r"<h1>(.*?)</h1>.*?rating\">([\d.]+)/10</span>.*?metascore\">(\d+)<", re.S)
# layout B hero (reference except-branch, spiders.py:352-362)
_RE_HERO_B = re.compile(
    r'data-testid="hero-title-block__title">(.*?)</h1>.*?'
    r'data-testid="hero-rating">([\d.]+)</div>.*?'
    r'class="score-meta">(\d+)<',
    re.S,
)
_RE_VIDEO_ITEM = re.compile(r'<a data-video="(vi\d+)">')
_RE_VIDEO_URL = re.compile(r'"videoUrl":"([^"]+)"')
_RE_EVENT_LINK = re.compile(r'data-link="(https://[^"]+/event/(ev\d+)/)"')
_RE_CO_LINK = re.compile(r'data-link="(https://[^"]+/search/title/\?companies=(co\d+))"')
_RE_CO_COUNT = re.compile(r"of ([\d,]+) titles")
_RE_GRID = re.compile(r'href="(/(?:title|name)/((?:tt|nm)\d+)/mediaviewer/(rm\d+))"')
_RE_CAPTION = re.compile(r'class="caption">(.*?)</div>')
_RE_SIZED = re.compile(r'data-size="(small|large)" src="([^"]+)"')
_RE_PERSON_LINK = re.compile(r'data-link="(https://[^"]+/name/(nm\d+)/)"')
_RE_CREDITS = re.compile(r'class="credit-count">([\d,]+) credits')
_RE_PERSON_HERO = re.compile(
    r"<h1>(.*?)</h1>.*?jobs\">(.*?)</span>.*?born\">(\d+)</span>", re.S
)
_RE_FILMO_ROW = re.compile(r'<li class="credit"><a href="/title/(tt\d+)/">(.*?)</a></li>')


def discover_links(fetched_ok: DataFrame) -> DataFrame:
    """All kinds -> newly discovered frontier rows (F1/F5/F7 fan-outs).

    Blob rows are filtered JVM-side BEFORE the Arrow boundary: leaves of
    the crawl graph discover nothing, and their binary bodies are the
    bulk of the fetched bytes — shipping them into Python here would
    dominate the discovery pass at media-heavy iterations."""
    fetched_ok = fetched_ok.filter(~F.col("kind").isin(*MEDIA_KINDS))
    cols = [f.name for f in DISCOVERED_SCHEMA.fields]

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def row(u, host, priority, seq, depth, kind, tt=None, rm=None, nm=None,
                vi=None, ev=None, co=None):
            return (u, canonicalize_url(u), host, priority, seq, depth, kind,
                    tt, rm, nm, vi, ev, co)

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                body = r.body.decode("utf-8", "replace") if r.kind not in MEDIA_KINDS else ""
                base = f"https://{r.host}"
                if r.kind == "title":
                    m = _RE_COUNT.search(body)
                    n = int(m.group(1).replace(",", "")) if m else 0
                    pages = n_pages(n, PER_PAGE)
                    for p in range(1, pages + 1):
                        u = f"{base}/title/{r.tt}/mediaindex?page={p}"
                        rows.append(row(u, r.host, r.priority + 1, child_seq(r.seq, p - 1), r.depth + 1,
                                        "mediaindex", tt=r.tt))
                    # F6 subpage fan-out (reference spiders.py:310-329):
                    # section URLs are CONSTRUCTED from the title URL, not
                    # parsed from links; ordinals continue after the
                    # mediaindex pages, preserving the reference's
                    # images-then-sections fetch order (spiders.py:370-442)
                    for s_i, sec in enumerate(SECTIONS):
                        u = r.url + sec  # title urls end with '/'
                        rows.append(row(u, r.host, r.priority + 1, child_seq(r.seq, pages + s_i), r.depth + 1,
                                        "section", tt=r.tt))
                    # reviews / news / ratings: ONE crawl URL each per
                    # title; scroll/load-more cursor loops live in the
                    # resolver (S5 semantics — reference spiders.py:
                    # 1508-1564 reviews, 4652-4704 news, 4962-5040 ratings)
                    o = pages + len(SECTIONS)
                    for extra_i, (suffix, kind) in enumerate(
                        [("reviews", "reviews"), ("news", "news"), ("ratings", "ratings")]
                    ):
                        u = r.url + suffix
                        rows.append(row(u, r.host, r.priority + 1, child_seq(r.seq, o + extra_i), r.depth + 1,
                                        kind, tt=r.tt))
                    # F2 video pagination (reference getAllvideos,
                    # spiders.py:792-799: ceil(n/PER_PAGE_OF_VIDEO) pages)
                    vm = _RE_VCOUNT.search(body)
                    nv = int(vm.group(1).replace(",", "")) if vm else 0
                    for p in range(1, n_pages(nv, PER_PAGE_VIDEO) + 1):
                        u = f"{base}/title/{r.tt}/videogallery?page={p}"
                        rows.append(row(u, r.host, r.priority + 1, child_seq(r.seq, o + 3 + p - 1), r.depth + 1,
                                        "videogallery", tt=r.tt))
                elif r.kind == "mediaindex":
                    # owner is a title OR a person (reference nm photo probe
                    # spiders.py:2172-2189; nmImgTags_IMDB 5043-5092)
                    for j, m in enumerate(_RE_GRID.finditer(body)):
                        u = base + m.group(1)
                        owner = m.group(2)
                        rows.append(row(u, r.host, r.priority + 1, child_seq(r.seq, j),
                                        r.depth + 1, "photo_detail",
                                        tt=owner if owner.startswith("tt") else None,
                                        rm=m.group(3),
                                        nm=owner if owner.startswith("nm") else None))
                elif r.kind == "videogallery":
                    # grid -> per-video player page (reference get_cur_video
                    # builds /videoplayer/<vi>, spiders.py:824-827); nm
                    # galleries carry the person id through (spiders.py:
                    # 2190-2207, main_downloadIMDB_video_nm main.py:86-88)
                    for j, m in enumerate(_RE_VIDEO_ITEM.finditer(body)):
                        u = f"{base}/videoplayer/{m.group(1)}"
                        rows.append(row(u, r.host, r.priority + 1, child_seq(r.seq, j),
                                        r.depth + 1, "video_player", tt=r.tt, nm=r.nm,
                                        vi=m.group(1)))
                elif r.kind == "video_player":
                    # X12-style embedded-script mp4 extraction (reference
                    # '"videoUrl":"(\S+?)"' + '.mp4?' filter, spiders.py:845-852)
                    mp4 = next(
                        (u for u in _RE_VIDEO_URL.findall(body) if re.search(r"\.mp4\?", u)),
                        None,
                    )
                    if mp4:
                        rows.append(row(mp4, url_host(mp4), r.priority + 1,
                                        child_seq(r.seq, 0), r.depth + 1,
                                        "video_blob", tt=r.tt, nm=r.nm, vi=r.vi))
                elif r.kind == "section":
                    # cross-entity discovery (reference nmIMDB spider is
                    # seeded from cast links; here the fullcredits section
                    # IS the link source, spiders.py:1359-1419 cast ids).
                    # awards rows seed the ev crawl (J2/J4 analogue: the
                    # reference builds evids from awards.csv, utils.py) and
                    # companies rows seed the co crawl (spiders.py:3441-3448)
                    for j, m in enumerate(_RE_PERSON_LINK.finditer(body)):
                        u, nm_id = m.group(1), m.group(2)
                        rows.append(row(u, url_host(u), r.priority + 1, child_seq(r.seq, j), r.depth + 1,
                                        "person", nm=nm_id))
                    for j, m in enumerate(_RE_EVENT_LINK.finditer(body)):
                        u, ev_id = m.group(1), m.group(2)
                        rows.append(row(u, url_host(u), r.priority + 1, child_seq(r.seq, j), r.depth + 1,
                                        "event", ev=ev_id))
                    for j, m in enumerate(_RE_CO_LINK.finditer(body)):
                        u, co_id = m.group(1), m.group(2)
                        rows.append(row(u, url_host(u), r.priority + 1, child_seq(r.seq, j), r.depth + 1,
                                        "company", co=co_id))
                elif r.kind == "person":
                    # fan-out order mirrors the reference nm spider's
                    # execution order (spiders.py:2172-2225): photos,
                    # videos, filmography, aux sections; person news last
                    # (a separate job there, nmIMDB_news spiders.py:
                    # 4765-4864 / main.py:66-69)
                    pr, dp = r.priority + 1, r.depth + 1
                    im = _RE_COUNT.search(body)
                    ni = int(im.group(1).replace(",", "")) if im else 0
                    mp = n_pages(ni, PER_PAGE)
                    for p in range(1, mp + 1):
                        u = f"{base}/name/{r.nm}/mediaindex?page={p}"
                        rows.append(row(u, r.host, pr, child_seq(r.seq, p - 1), dp,
                                        "mediaindex", nm=r.nm))
                    vm = _RE_VCOUNT.search(body)
                    nv = int(vm.group(1).replace(",", "")) if vm else 0
                    vp = n_pages(nv, PER_PAGE_VIDEO)
                    for p in range(1, vp + 1):
                        u = f"{base}/name/{r.nm}/videogallery?page={p}"
                        rows.append(row(u, r.host, pr, child_seq(r.seq, mp + p - 1), dp,
                                        "videogallery", nm=r.nm))
                    m = _RE_CREDITS.search(body)
                    n = int(m.group(1).replace(",", "")) if m else 0
                    fp = n_pages(n, PER_PAGE_HIST)
                    o = mp + vp
                    for p in range(1, fp + 1):
                        u = f"{base}/name/{r.nm}/filmosearch?page={p}"
                        rows.append(row(u, r.host, pr, child_seq(r.seq, o + p - 1), dp,
                                        "filmo", nm=r.nm))
                    # person aux subpages (reference spiders.py:2211-2225);
                    # ordinals continue after the filmography pages
                    for s_i, sec in enumerate(PSECTIONS):
                        u = f"{base}/name/{r.nm}/{sec}"
                        rows.append(row(u, r.host, pr, child_seq(r.seq, o + fp + s_i), dp,
                                        "psection", nm=r.nm))
                    u = f"{base}/name/{r.nm}/news"
                    rows.append(row(u, r.host, pr,
                                    child_seq(r.seq, o + fp + len(PSECTIONS)), dp,
                                    "news", nm=r.nm))
                elif r.kind == "company":
                    # count page -> &start= pagination (reference
                    # get_co_info, spiders.py:3322-3330)
                    m = _RE_CO_COUNT.search(body)
                    n = int(m.group(1).replace(",", "")) if m else 0
                    for p in range(n_pages(n, PER_PAGE_CO)):
                        u = f"{r.url}&start={1 + p * PER_PAGE_CO}"
                        rows.append(row(u, r.host, r.priority + 1, child_seq(r.seq, p), r.depth + 1,
                                        "co_page", co=r.co))
                elif r.kind == "photo_detail":
                    sized = dict(_RE_SIZED.findall(body))
                    small, large = sized.get("small"), sized.get("large")
                    if small and large:
                        for j, u in enumerate([small, large, ori_url(large)]):
                            rows.append(row(u, url_host(u), r.priority + 1,
                                            child_seq(r.seq, j), r.depth + 1,
                                            "image_blob", tt=r.tt, rm=r.rm, nm=r.nm))
            yield pd.DataFrame(rows, columns=cols)

    return fetched_ok.mapInPandas(_run, DISCOVERED_SCHEMA)


def _thin_extractor(kind: str, row_fn, schema):
    """Build an ``extract_*(fetched_ok) -> DataFrame`` from a per-row
    parser ``row_fn(r, body_text) -> list[tuple]``.

    The row parsers are module-level on purpose: they are shared verbatim
    between these single-table extractors (used by supplement/repair jobs
    and tests) and the crawl loop's fused single-pass staging writer
    (plans/fused_staging.py), so the two paths can never drift."""
    cols = [f.name for f in schema.fields]

    def _extract(fetched_ok: DataFrame) -> DataFrame:
        def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    if r.kind != kind:
                        continue
                    rows.extend(row_fn(r, r.body.decode("utf-8", "replace")))
                yield pd.DataFrame(rows, columns=cols)

        return fetched_ok.filter(F.col("kind") == kind).mapInPandas(_run, schema)

    _extract.__name__ = f"extract_{kind}"
    _extract.__doc__ = row_fn.__doc__
    return _extract


def _rows_titles(r, body):
    """Hero fields under the P6 dual-layout dispatch (reference
    spiders.py:339-362): try the old class selectors first; on miss,
    fall back to the data-testid layout — the regex twin of the
    reference's try/except selector switch."""
    hero = _RE_HERO.search(body) or _RE_HERO_B.search(body)
    if not hero:
        return []
    cnt = _RE_COUNT.search(body)
    return [(r.tt, hero.group(1), float(hero.group(2)), int(hero.group(3)),
             int(cnt.group(1).replace(",", "")) if cnt else 0)]


def _rows_captions(r, body):
    """Photo-detail caption (reference imgTags_IMDB, spiders.py:5043-5092;
    owner is a title OR a person — nm caption scrape is the same parse)."""
    m = _RE_CAPTION.search(body)
    return [(r.rm, r.tt, r.nm, m.group(1))] if m else []


extract_titles = _thin_extractor("title", _rows_titles, TITLE_SCHEMA)
extract_captions = _thin_extractor("photo_detail", _rows_captions, CAPTION_SCHEMA)


REVIEW_SCHEMA = T.StructType(
    [
        T.StructField("tt", T.StringType()),
        T.StructField("ord", T.IntegerType()),
        T.StructField("review_id", T.StringType()),
        T.StructField("rating", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("action", T.StringType()),
    ]
)

_RE_REVIEW = re.compile(
    r'<div class="review" data-id="(rw\d+)"><span class="rv-rating">(.*?)</span>'
    r'<span class="rv-title">(.*?)</span><span class="rv-name">(.*?)</span>'
    r'<span class="rv-date">(.*?)</span><p class="rv-text">(.*?)</p>'
    r'<span class="rv-action">(.*?)</span></div>'
)
_RE_LOADED_ALL = re.compile(r"class='loaded-all'")


PERSON_SCHEMA = T.StructType(
    [
        T.StructField("nm", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("jobs", T.StringType()),
        T.StructField("born", T.IntegerType()),
        T.StructField("n_credits", T.IntegerType()),
    ]
)

CREDIT_SCHEMA = T.StructType(
    [
        T.StructField("nm", T.StringType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("ord", T.IntegerType()),
        T.StructField("tt", T.StringType()),
        T.StructField("title", T.StringType()),
    ]
)


def _rows_persons(r, body):
    """Person hero fields (reference person base.csv: id, name, jobs,
    born — spiders.py:2235-2242, parsed at 2131-2165)."""
    hero = _RE_PERSON_HERO.search(body)
    if not hero:
        return []
    cnt = _RE_CREDITS.search(body)
    return [(r.nm, hero.group(1), hero.group(2), int(hero.group(3)),
             int(cnt.group(1).replace(",", "")) if cnt else 0)]


def _rows_credits(r, body):
    """Filmography rows (reference hists.csv: id, url, title —
    spiders.py:2332-2340, paginated get_hist at 2382-2421). ``ord`` is
    the position on the page; (page, ord) reconstructs the reference's
    sort=year traversal order."""
    pm = re.search(r"data-page='(\d+)'", body)
    page = int(pm.group(1)) if pm else 0
    return [(r.nm, page, i, m.group(1), m.group(2))
            for i, m in enumerate(_RE_FILMO_ROW.finditer(body))]


def _rows_reviews(r, body):
    """getEachReview twin (reference spiders.py:1566-1597, 4491-4528):
    reviews.csv columns (rating, title, name, ID, date, text, action).
    The loaded-all marker (reference's termination condition,
    spiders.py:1544-1549) must be present — a 200 page missing it (a
    load-more loop interrupted server-side) yields NO review rows: the
    partial list is dropped rather than committed. NOTE the page is
    still marked seen (a 200 commits to the seen set), so recovery for
    a real site is ``--repair`` after the resolver heals, not an
    automatic re-fetch; the synthetic resolver always emits the marker."""
    if not _RE_LOADED_ALL.search(body):
        return []
    return [(r.tt, i, *m.groups())
            for i, m in enumerate(_RE_REVIEW.finditer(body))]


extract_persons = _thin_extractor("person", _rows_persons, PERSON_SCHEMA)
extract_credits = _thin_extractor("filmo", _rows_credits, CREDIT_SCHEMA)
extract_reviews = _thin_extractor("reviews", _rows_reviews, REVIEW_SCHEMA)


_RE_SEC_KIND = re.compile(r"data-sec='(\w+)'")
_RE_SEC_ROW = re.compile(
    r'<tr class="sec-row"(?: data-link="[^"]*")?><td>(.*?)</td><td>(.*?)</td><td>(.*?)</td></tr>'
)

# typed per-section column names — the engine twin of the reference's
# fixed-schema section CSVs (SURVEY §1.3: keywords.csv, companies.csv,
# awards.csv, quotes.csv, release.csv, technicals.csv, locations.csv,
# trivia.csv, summaries.csv, casts.csv)
SECTION_COLUMNS = {
    "keywords": ["keyword"],
    "companies": ["type", "name", "co_id"],
    "awards": ["title", "ev_id", "award_description"],
    "quotes": ["character", "text"],
    "releaseinfo": ["country", "date", "attribute"],
    "technical": ["label", "value"],
    "locations": ["type", "value"],
    "trivia": ["text"],
    "plotsummary": ["text", "author"],
    "fullcredits": ["nm_id", "name", "character"],
    # round-2 additions (reference spiders.py:1008-1284 / SURVEY §1.3)
    "externalreviews": ["text", "url"],
    "parentalguide": ["cate", "severity", "text"],
    "faqs": ["question", "answer"],
    "soundtracks": ["text"],
    "movieconnections": ["type", "link_id", "text"],
    "goofs": ["text"],
    "crazycredits": ["text"],
    "alternateversions": ["text"],
}


def _rows_sections(r, body):
    """Section pages -> tall (tt, section, ord, f1..f3) rows, in page
    order — one parse pass for the whole §2.11 section family; typed
    per-section frames come from ``section_view``."""
    km = _RE_SEC_KIND.search(body)
    sec = km.group(1) if km else None
    return [(r.tt, sec, i, *(g if g else None for g in m.groups()))
            for i, m in enumerate(_RE_SEC_ROW.finditer(body))]


extract_sections = _thin_extractor("section", _rows_sections, SECTION_SCHEMA)


def section_view(sections: DataFrame, sec: str) -> DataFrame:
    """Typed projection of the tall sections table for one section —
    column names match the reference CSV schemas (SURVEY §1.3)."""
    cols = SECTION_COLUMNS[sec]
    out = sections.filter(F.col("section") == sec).select(
        "tt", "ord", *[F.col(f"f{i + 1}").alias(c) for i, c in enumerate(cols)]
    )
    return out


# ---------------------------------------------------------------------------
# round-2 extractors: videos / news / ratings / person aux / events / cos
# ---------------------------------------------------------------------------

VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("vi", T.StringType()),
        T.StructField("tt", T.StringType()),
        T.StructField("nm", T.StringType()),
        T.StructField("mp4_url", T.StringType()),
    ]
)

NEWS_SCHEMA = T.StructType(
    [
        T.StructField("tt", T.StringType()),
        T.StructField("nm", T.StringType()),
        T.StructField("ord", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("author", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("img_url", T.StringType()),
        T.StructField("img_alt", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)

RATINGS_SCHEMA = T.StructType(
    [
        T.StructField("tt", T.StringType()),
        T.StructField("tot_users", T.LongType()),
        T.StructField("weighted_avg", T.StringType()),
        T.StructField("rating_by_score", T.StringType()),
        T.StructField("arithmetic_mean", T.StringType()),
        T.StructField("median", T.StringType()),
        T.StructField("rating_by_demographic", T.MapType(T.StringType(), T.StringType())),
        T.StructField("rating_by_users", T.StringType()),
        # time-series column: the reference's ratings.csv carries a
        # time_stamp and APPENDS on re-crawl (spiders.py:4941-4959, 5037)
        # so repeated runs build a rating history per title
        T.StructField("fetched_at", T.StringType()),
    ]
)


def synthetic_fetch_time(iteration: int) -> str:
    """Deterministic twin of the reference's ratings ``time_stamp``
    (spiders.py:5037 ``time.strftime``): wall time would break the
    replay/resume contract (byte-identical tables on re-run), so the
    synthetic crawl clock maps iteration ``i`` to day ``i`` of a fixed
    epoch. A second supplement pass runs at a later iteration, hence a
    later timestamp — the same "rating history per title" semantics."""
    from datetime import datetime, timedelta

    return (datetime(2020, 1, 1) + timedelta(days=iteration)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )

PSECTION_SCHEMA = T.StructType(
    [T.StructField("nm", T.StringType()), T.StructField("section", T.StringType()),
     T.StructField("ord", T.IntegerType())]
    + [T.StructField(f"f{i}", T.StringType()) for i in range(1, 7)]
)

PSECTION_COLUMNS = {
    "bio": ["cate", "label", "value"],
    "otherworks": ["text"],
    "publicity": ["cate", "label", "value"],
    "externalsites": ["cate", "external_url", "text"],
    # reference person 6-col awards.csv (spiders.py:2291-2331)
    "awards": ["title", "year", "ev_id", "award_outcome", "award_category", "award_descriptions"],
}

EVENT_BASE_SCHEMA = T.StructType(
    [
        T.StructField("ev", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("sub_name", T.StringType()),
        T.StructField("year", T.StringType()),
        T.StructField("layout", T.StringType()),
    ]
)

EVENT_AWARD_SCHEMA = T.StructType(
    [
        T.StructField("ev", T.StringType()),
        T.StructField("ord", T.IntegerType()),
        T.StructField("award_name", T.StringType()),
        T.StructField("cate_name", T.StringType()),
        T.StructField("is_winner", T.StringType()),
        T.StructField("img_url", T.StringType()),
        T.StructField("primary_names", T.StringType()),
        T.StructField("primary_ids", T.StringType()),
        T.StructField("secondary_names", T.StringType()),
        T.StructField("secondary_ids", T.StringType()),
        T.StructField("notes", T.StringType()),
    ]
)

COMPANY_BASE_SCHEMA = T.StructType(
    [
        T.StructField("co", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("n_titles", T.IntegerType()),
    ]
)

CO_FILM_FIELDS = [
    "tt", "title_name", "img_url", "certificate", "runtime", "genre",
    "rating", "metascore", "describe", "directors", "directors_ids",
    "stars", "stars_ids", "votes", "gross",
]

COMPANY_FILM_SCHEMA = T.StructType(
    [T.StructField("co", T.StringType()), T.StructField("page", T.IntegerType()),
     T.StructField("ord", T.IntegerType())]
    + [T.StructField(c, T.StringType()) for c in CO_FILM_FIELDS]
)

_RE_NEWS_ART = re.compile(
    r'<article class="news-article"><h2 class="news-article__title">'
    r'<a href="([^"]*)">(.*?)</a></h2>'
    r'<li class="news-article__date">(.*?)</li>'
    r'<li class="news-article__author">(.*?)</li>'
    r'<li class="news-article__source">(.*?)</li>'
    r'<img class="news-article__image" src="([^"]*)" alt="([^"]*)"/>'
    r'<div class="news-article__content">(.*?)</div></article>'
)
_RE_RATINGS_HEAD = re.compile(
    r'class="allText">([\d,]+) IMDb users have given a weighted average vote of ([\d.]+) / 10'
)
_RE_RATINGS_SCORE = re.compile(r'class="by-score">(.*?)</div>')
_RE_RATINGS_STATICS = re.compile(r"Arithmetic mean = ([\d.]+)\. Median = ([\d.]+)\.")
_RE_RATINGS_USERS = re.compile(r'class="by-users">(.*?)</div>')
_RE_DEMO_ROW = re.compile(r'<tr data-cate="([^"]+)">(.*?)</tr>', re.S)
_RE_DEMO_CELL = re.compile(
    r'<td data-col="([^"]+)"><div class="bigcell">([\d.]+)</div>'
    r'<div class="smallcell">(\d+)</div></td>'
)
_RE_PSEC_ROW = re.compile(
    r'<tr class="psec-row">' + r"<td>(.*?)</td>" * 6 + r"</tr>"
)
_RE_EVENT_LAYOUT = re.compile(r"data-layout='(dom|json)'")
_RE_EVENT_DOM_HEAD = re.compile(
    r'class="event-header__title">(.*?)</div>.*?'
    r'class="event-header__subtitle">(.*?)</div>.*?'
    r'class="event-year-header__year">(\d+)',
    re.S,
)
_RE_EVENT_DOM_AWARD = re.compile(
    r'<div class="event-widgets__award"><div class="award-name">(.*?)</div>'
    r'<div class="award-category-name">(.*?)</div>'
    r'<div class="winner-flag">(.*?)</div>'
    r'<img class="nominee-image" src="([^"]*)"/>'
    r'<span class="primary-nominee" data-id="([^"]*)">(.*?)</span>'
    r'<span class="secondary-nominee" data-id="([^"]*)">(.*?)</span>'
    r'<div class="nomination-notes">(.*?)</div></div>'
)
_RE_EVENT_JSON = re.compile(r"\(\['nominees-widget-lite', (\{.*\})\]\);</script>", re.S)
_RE_CO_HEADER = re.compile(r'class="header">With (.*?) \(')
_RE_CO_START = re.compile(r"data-start='(\d+)'")
_RE_CO_FILM_ROW = re.compile(r'<tr class="co-film">((?:<td>.*?</td>){15})</tr>')
_RE_TD = re.compile(r"<td>(.*?)</td>")


def _rows_videos(r, body):
    """getAllvideos/get_cur_video twin (reference spiders.py:792-863):
    one (vi, tt, mp4_url) row per video player page, the engine's
    videos.csv (url, ID — reference spiders.py:501-511)."""
    mp4 = next(
        (u for u in _RE_VIDEO_URL.findall(body) if re.search(r"\.mp4\?", u)),
        None,
    )
    return [(r.vi, r.tt, r.nm, mp4)] if mp4 else []


extract_videos = _thin_extractor("video_player", _rows_videos, VIDEO_SCHEMA)


def extract_video_files(fetched_ok: DataFrame) -> DataFrame:
    """video_blob rows -> (vi, tt, bytes, n_bytes). Pure JVM projection —
    the payload is opaque (the reference streams mp4 chunks to a file
    without decoding, spiders.py:3876-3897)."""
    return fetched_ok.filter(F.col("kind") == "video_blob").select(
        "vi", "tt", "nm", F.col("body").alias("bytes"), F.length("body").alias("n_bytes")
    )


def _rows_news(r, body):
    """getEachNews twin (reference spiders.py:4706-4762): 8-col news rows.
    The page displays newest-first; the parser REVERSES before emitting
    (newses.reverse(), spiders.py:4690 — O5), so ``ord`` is oldest-first.
    Same loaded-all completeness contract as reviews."""
    if not _RE_LOADED_ALL.search(body):
        return []
    return [
        (r.tt, r.nm, i, title, url, date, author, source, img_url, img_alt, content)
        for i, (url, title, date, author, source, img_url, img_alt, content)
        in enumerate(reversed(_RE_NEWS_ART.findall(body)))
    ]


extract_news = _thin_extractor("news", _rows_news, NEWS_SCHEMA)


def _rows_ratings(r, body):
    """getRatings twin (reference spiders.py:4962-5040): the 3 rating
    tables + the demographics grid as a MapType column (SURVEY §1.2's
    nested-data modernization of the reference's dict-literal string).
    ``r.fetched_at`` is the iteration-derived synthetic timestamp the
    crawl/supplement stamps on the fetched frame (the reference's
    time_stamp column, spiders.py:5037) — ratings is a re-crawlable
    time-series, so every parse carries its fetch time."""
    head = _RE_RATINGS_HEAD.search(body)
    if not head:
        return []
    by_score = _RE_RATINGS_SCORE.search(body)
    statics = _RE_RATINGS_STATICS.search(body)
    by_users = _RE_RATINGS_USERS.search(body)
    demo = {}
    for cate, cells in _RE_DEMO_ROW.findall(body):
        for col, score, votes in _RE_DEMO_CELL.findall(cells):
            demo[f"{cate}|{col}"] = f"{score},{votes}"
    return [
        (
            r.tt,
            int(head.group(1).replace(",", "")),
            head.group(2),
            by_score.group(1) if by_score else None,
            statics.group(1) if statics else None,
            statics.group(2) if statics else None,
            demo,
            by_users.group(1) if by_users else None,
            r.fetched_at,
        )
    ]


def _rows_psections(r, body):
    """Person aux subpages -> tall (nm, section, ord, f1..f6) rows
    (reference bio/otherworks/publicity/external_sites/person-awards,
    spiders.py:2291-2623). Awards uses all six fields; the rest f1..f3."""
    km = _RE_SEC_KIND.search(body)
    sec = km.group(1) if km else None
    return [(r.nm, sec, i, *(g if g else None for g in m.groups()))
            for i, m in enumerate(_RE_PSEC_ROW.finditer(body))]


extract_ratings = _thin_extractor("ratings", _rows_ratings, RATINGS_SCHEMA)
extract_psections = _thin_extractor("psection", _rows_psections, PSECTION_SCHEMA)


def psection_view(psections: DataFrame, sec: str) -> DataFrame:
    """Typed projection matching the reference's per-file person CSVs."""
    cols = PSECTION_COLUMNS[sec]
    return psections.filter(F.col("section") == sec).select(
        "nm", "ord", *[F.col(f"f{i + 1}").alias(c) for i, c in enumerate(cols)]
    )


def _rows_events_base(r, body):
    """getEvent hero twin (reference spiders.py:2668-2833) under the
    dual-layout dispatch — DOM selectors when the page renders the
    widget, embedded-JSON extraction (X12) otherwise."""
    import json as _json

    lay = _RE_EVENT_LAYOUT.search(body)
    layout = lay.group(1) if lay else None
    if layout == "dom":
        h = _RE_EVENT_DOM_HEAD.search(body)
        return [(r.ev, h.group(1), h.group(2), h.group(3), layout)] if h else []
    jm = _RE_EVENT_JSON.search(body)
    if not jm:
        return []
    s = _json.loads(jm.group(1))["nomineesWidgetModel"]["eventEditionSummary"]
    return [(r.ev, s["eventName"], "", str(s["year"]), layout)]


def _rows_event_awards(r, body):
    """getEvent 9-col award rows (reference spiders.py:2700-2833), same
    dual-layout dispatch as the hero parse."""
    import json as _json

    lay = _RE_EVENT_LAYOUT.search(body)
    layout = lay.group(1) if lay else None
    rows = []
    if layout == "dom":
        for i, m in enumerate(_RE_EVENT_DOM_AWARD.finditer(body)):
            aw, cate, win, img, pid, pn, sid, sn, notes = m.groups()
            rows.append((r.ev, i, aw, cate, win, img, pn, pid, sn, sid, notes))
        return rows
    jm = _RE_EVENT_JSON.search(body)
    if not jm:
        return []
    model = _json.loads(jm.group(1))["nomineesWidgetModel"]
    i = 0
    for award in model["eventEditionSummary"]["awards"]:
        for cate in award["categories"]:
            for nom in cate["nominations"]:
                img = ""
                pns, pids = [], []
                for nominee in nom["primaryNominees"]:
                    if nominee.get("imageUrl"):
                        img = nominee["imageUrl"]
                    pns.append(nominee["name"])
                    pids.append(nominee["const"])
                sns = [x["name"] for x in nom["secondaryNominees"]]
                sids = [x["const"] for x in nom["secondaryNominees"]]
                rows.append(
                    (
                        r.ev, i, award["awardName"],
                        cate["categoryName"] or "",
                        "Winner" if nom["isWinner"] else "not Winner",
                        img, ",".join(pns), ",".join(pids),
                        ",".join(sns), ",".join(sids),
                        nom["notes"] or "",
                    )
                )
                i += 1
    return rows


def _rows_companies(r, body):
    """Company header page -> (co, name, n_titles) (reference get_co_info
    count + name parse, spiders.py:3303-3322)."""
    hm = _RE_CO_HEADER.search(body)
    if not hm:
        return []
    cm = _RE_CO_COUNT.search(body)
    return [(r.co, hm.group(1), int(cm.group(1).replace(",", "")) if cm else 0)]


extract_events_base = _thin_extractor("event", _rows_events_base, EVENT_BASE_SCHEMA)
extract_event_awards = _thin_extractor("event", _rows_event_awards, EVENT_AWARD_SCHEMA)
extract_companies = _thin_extractor("company", _rows_companies, COMPANY_BASE_SCHEMA)


def _rows_company_films(r, body):
    """Company search-result pages -> 15-field film rows + (co, page, ord)
    (reference get_curPage_co, spiders.py:3352-3437)."""
    sm = _RE_CO_START.search(body)
    start = int(sm.group(1)) if sm else 1
    page = (start - 1) // PER_PAGE_CO + 1
    return [(r.co, page, i, *_RE_TD.findall(m.group(1)))
            for i, m in enumerate(_RE_CO_FILM_ROW.finditer(body))]


extract_company_films = _thin_extractor("co_page", _rows_company_films, COMPANY_FILM_SCHEMA)

# table -> (source page kind, per-row parser, Spark schema) for every
# Python-parsed thin result table. Single source of truth shared by the
# per-table extract_* API above and the crawl loop's fused single-pass
# staging writer (plans/fused_staging.py). The blob-carrying tables
# (renditions, images, video_files) are deliberately NOT here: their
# bytes stay JVM-side (decode_blobs / extract_video_files projections).
THIN_TABLES: dict[str, tuple] = {
    "titles": ("title", _rows_titles, TITLE_SCHEMA),
    "captions": ("photo_detail", _rows_captions, CAPTION_SCHEMA),
    "sections": ("section", _rows_sections, SECTION_SCHEMA),
    "reviews": ("reviews", _rows_reviews, REVIEW_SCHEMA),
    "persons": ("person", _rows_persons, PERSON_SCHEMA),
    "credits": ("filmo", _rows_credits, CREDIT_SCHEMA),
    "videos": ("video_player", _rows_videos, VIDEO_SCHEMA),
    "news": ("news", _rows_news, NEWS_SCHEMA),
    "ratings": ("ratings", _rows_ratings, RATINGS_SCHEMA),
    "psections": ("psection", _rows_psections, PSECTION_SCHEMA),
    "events_base": ("event", _rows_events_base, EVENT_BASE_SCHEMA),
    "event_awards": ("event", _rows_event_awards, EVENT_AWARD_SCHEMA),
    "companies_base": ("company", _rows_companies, COMPANY_BASE_SCHEMA),
    "company_films": ("co_page", _rows_company_films, COMPANY_FILM_SCHEMA),
}


def decode_blobs(fetched_ok: DataFrame) -> DataFrame:
    """image_blob rows -> renditions (input_hint columns). Pure JVM
    projection: the decode + phash already happened inside the fetch
    pass (operators/fetch.py), where the bytes were in Python memory
    anyway — re-crossing the Arrow boundary here would double the
    heaviest data movement of a media iteration."""
    return (
        fetched_ok.filter((F.col("kind") == "image_blob") & F.col("fmt").isNotNull())
        .select(
            "rm", "tt", "nm", "rendition",
            F.col("body").alias("bytes"),
            "w", "h", "fmt", "phash",
        )
    )

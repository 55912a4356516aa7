"""Seed-list generators — the reference's chart/list scrapers (S7/K7).

The reference produces its seed CSVs with three one-off scrapers
(reference utils.py): ``getTopLowest`` (seven chart pages -> union ->
set-dedup -> sort -> TopLowest.csv, utils.py:97-271), ``getNearYear``
(a YYYY-MM month sequence -> coming-soon pages -> ids ->
NearYears*.csv, utils.py:15-62), and ``getEvents`` (the event index ->
ev ids -> AllEvents.csv, utils.py:64-95).

The engine restates each as ONE small Spark job over the ordinary fetch
operator (politeness + retry apply to seed production too):

    url list -> frontier rows (the shared ``frontier_rows`` builder) ->
    fetch_drain (budget-capped fetch_batch passes until the list is
    drained) -> JVM regexp_extract_all over the body ->
    explode -> distinct -> sort -> seed DataFrame

Everything after the fetch is whole-stage-codegen column work — the id
extraction never crosses into Python. At 10^10 scale the chart set is
tiny, but the month sequence can span decades x many list pages; the
pattern (DataFrame of URLs in, DataFrame of ids out) is what scales,
not the page count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from film_crawler_spark.operators import frontier as FR
from film_crawler_spark.operators.fetch import fetch_drain
from film_crawler_spark.operators.politeness import PolitenessConfig
from film_crawler_spark.sources.synthetic_site import CHARTS, SiteConfig

_ID_IN_HREF = {
    "tt": r'href="/title/(tt\d+)/"',
    "ev": r'href="/event/(ev\d+)/"',
}


def _fetch_ids(spark: SparkSession, urls: list[tuple[str, str]], id_kind: str,
               cfg: SiteConfig | None, pol: PolitenessConfig | None) -> DataFrame:
    """Fetch ``urls`` ([(url, page_kind)]; seq is the list position — the
    reference fetches charts in a fixed order) and return the distinct
    sorted ids their pages link to, extracted fully JVM-side."""
    ranked = [(u, kind, i) for i, (u, kind) in enumerate(urls)]
    frontier = FR.frontier_rows(spark.createDataFrame(ranked, "url string, page_kind string, seq long"))
    fetched = fetch_drain(frontier, cfg or SiteConfig(), pol or PolitenessConfig())
    body = F.decode(F.col("body"), "utf-8")
    return (
        fetched.filter(F.col("status") == 200)
        .select(F.explode(F.regexp_extract_all(body, F.lit(_ID_IN_HREF[id_kind]), 1)).alias("id"))
        .distinct()
        .orderBy("id")
    )


def chart_seeds(spark: SparkSession, cfg: SiteConfig | None = None,
                pol: PolitenessConfig | None = None) -> DataFrame:
    """getTopLowest twin (reference utils.py:97-271): fetch every chart
    page, union the ids, set-dedup, sort. Returns (id) DataFrame."""
    urls = [(f"https://www.media-h0.com/chart/{c}", "chart") for c in CHARTS]
    return _fetch_ids(spark, urls, "tt", cfg, pol)


def near_year_seeds(spark: SparkSession, start_month: str, end_month: str,
                    cfg: SiteConfig | None = None,
                    pol: PolitenessConfig | None = None) -> DataFrame:
    """getNearYear twin (reference utils.py:15-62): YYYY-MM month range
    (the X10 month-sequence, computed by Spark's ``sequence`` over month
    intervals) -> one coming-soon page per month -> ids. The month list
    is collected (bounded: 12 rows/year — a century is 1200 URLs); the
    id extraction over the fetched pages stays fully distributed."""
    months = (
        spark.sql(
            f"SELECT explode(sequence(to_date('{start_month}-01'), "
            f"to_date('{end_month}-01'), interval 1 month)) AS m"
        )
        .select(F.date_format("m", "yyyy-MM").alias("month"))
        .collect()
    )
    urls = [
        (f"https://www.media-h0.com/movies-coming-soon/{r['month']}", "coming_soon")
        for r in months
    ]
    return _fetch_ids(spark, urls, "tt", cfg, pol)


def all_event_seeds(spark: SparkSession, cfg: SiteConfig | None = None,
                    pol: PolitenessConfig | None = None) -> DataFrame:
    """getEvents twin (reference utils.py:64-95): the event index page ->
    ev ids (the reference drives Selenium for this one page; the engine
    fetches it like any URL)."""
    return _fetch_ids(spark, [("https://www.media-h0.com/event/all", "event_index")], "ev", cfg, pol)


def write_seed_table(df: DataFrame, path: str) -> None:
    """K7 seed-list writer: the reference writes tab-separated single-
    column CSVs (utils.py:35-39, 117-119); the engine writes the same
    shape so ``run_crawl.py --seed-file`` round-trips."""
    df.select("id").write.mode("overwrite").option("sep", "\t").csv(path)

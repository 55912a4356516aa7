"""404-liveness probe — the reference's ``get_404_ttnm`` checker (P7).

The reference replays its full title and name id lists through plain
GETs and records which now return 404 (reference spiders.py:3472-3533,
writing 404tts.csv / 404nms.csv). The engine expresses the probe as a
derived frontier + one fetch drain:

    id DataFrame -> entity URL column -> frontier rows (the shared
    ``frontier_rows`` builder) -> fetch_drain (retry policy applies: a
    500-then-heal URL is NOT dead) -> filter status==404 ->
    (id, canon_url) report

The probe is an ordinary bounded Spark job: politeness budgets apply
(the reference hammers with THREADS=4 and no budget), and at 10^10 ids
the fetch spreads exactly like the crawl's media stage (hash-partitioned
by canon_url, no per-host serialization when delay is 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from film_crawler_spark.operators import frontier as FR
from film_crawler_spark.operators.fetch import fetch_drain
from film_crawler_spark.operators.politeness import PolitenessConfig
from film_crawler_spark.sources.synthetic_site import SiteConfig, SyntheticSite


def probe_404(
    ids: DataFrame,
    entity: str,
    cfg: SiteConfig | None = None,
    pol: PolitenessConfig | None = None,
) -> DataFrame:
    """ids: single-column DataFrame of tt or nm ids. entity: 'tt'|'nm'.
    Returns (id, canon_url, status) for ids whose page is now dead
    (status 404 after the standard retry policy)."""
    cfg = cfg or SiteConfig()
    pol = pol or PolitenessConfig()
    site = SyntheticSite(cfg)

    @F.pandas_udf("string")
    def entity_url(s):
        return s.map(site.title_url if entity == "tt" else site.person_url)

    # rank for seq: probes are order-insensitive, so the cheap
    # monotonically-increasing id is enough (no global sort needed)
    frontier = FR.frontier_rows(
        ids.select(F.col(ids.columns[0]).alias("id"))
        .distinct()
        .select(
            entity_url("id").alias("url"),
            F.lit("title" if entity == "tt" else "person").alias("page_kind"),
            F.monotonically_increasing_id().alias("seq"),
            F.col("id").alias(entity),
        )
    )
    dead_id = F.coalesce("tt", "nm").alias("id")
    # fetch_drain, not one fetch_batch: one fetch over an id list longer
    # than budget_html would break the per-host politeness budget. The
    # drain ranks the list into budget passes and fetches every pass.
    fetched = fetch_drain(frontier, cfg, pol)
    return (
        fetched.filter(F.col("status") == 404)
        .select(dead_id, "canon_url", "status")
        .orderBy("id")
    )

"""robots.txt cache + frontier filter (north_rule addition; the
reference crawler has no robots handling at all).

The cache is a tiny per-host table (host, disallow array<string>,
crawl_delay_ms) — thousands of hosts at most, so it broadcast-joins to
the frontier additions, and the prefix test runs JVM-side via
``exists(disallow, p -> startswith(path, p))`` — no Python in the path.

New hosts are discovered incrementally: any host appearing in frontier
candidates that has no cache row gets its robots fetched (one resolver
call per host, in one Python task); the caller appends those rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from film_crawler_spark.sources.synthetic_site import SiteConfig, SyntheticSite

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("disallow", T.ArrayType(T.StringType())),
        T.StructField("crawl_delay_ms", T.IntegerType()),
    ]
)


def fetch_robots_for_hosts(hosts: DataFrame, site_cfg: SiteConfig) -> DataFrame:
    """hosts: one-column DataFrame (host). Resolver call per distinct
    host, in one task: a single partition satisfies the distinct, so no
    exchange is planned."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        site = SyntheticSite(site_cfg)
        for pdf in batches:
            rows = []
            for h in pdf["host"]:
                r = site.robots(h)
                rows.append((h, r["disallow"], r["crawl_delay_ms"]))
            yield pd.DataFrame(rows, columns=["host", "disallow", "crawl_delay_ms"])

    return hosts.select("host").coalesce(1).distinct().mapInPandas(_run, ROBOTS_SCHEMA)


def fetch_new_robots(
    cache: DataFrame | None, candidate_hosts: DataFrame, site_cfg: SiteConfig
) -> DataFrame:
    """Robots rows of the candidate hosts that ``cache`` lacks."""
    hosts = candidate_hosts.select("host").distinct()
    if cache is not None:
        hosts = hosts.join(cache.select("host"), "host", "left_anti")
    return fetch_robots_for_hosts(hosts, site_cfg)


def split_by_robots(candidates: DataFrame, robots: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(allowed, denied) frontier candidates, by disallow-prefix match on
    the canonical URL's path. Broadcast join — the robots cache is tiny
    relative to the frontier by construction."""
    path = F.regexp_replace("canon_url", r"^https?://[^/]+", "")
    joined = (
        candidates.withColumn("_path", path)
        .join(F.broadcast(robots.select("host", "disallow")), "host", "left")
        .withColumn(
            "_denied",
            F.when(F.col("disallow").isNull(), F.lit(False)).otherwise(
                F.exists("disallow", lambda p: F.col("_path").startswith(p))
            ),
        )
    )
    cols = candidates.columns
    allowed = joined.filter(~F.col("_denied")).select(*cols)
    denied = joined.filter(F.col("_denied")).select(*cols)
    return allowed, denied

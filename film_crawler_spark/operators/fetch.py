"""The fetch stage: frontier batch in, (status, body) out — one
Arrow-batched ``mapInPandas`` pass, repartitioned by host.

Maps the reference's request layer (spiders.py:116-154: UA header GET,
404 -> give up, 500 -> retry up to 20x, generic retry loop) onto the
engine: the retry loop runs *inside* the task against the resolver, the
attempt count rides along as a column, and exhausted URLs surface as
dead-letter rows instead of a ``remain.csv`` (spiders.py:2995-2998).

The resolver is pluggable: in this sandbox it is the deterministic
SyntheticSite (no network); on a real deployment it would be an
httpx/aiohttp client with the same (url, attempt) -> (status, bytes)
contract — the per-host pacing and retry policy do not change. The
per-host count budget is not checked here: the dequeue that built the
batch already capped it, so every row this stage receives is fetched.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from film_crawler_spark.functions.images import decode_image, phash64
from film_crawler_spark.operators.politeness import PolitenessConfig, TokenBucket
from film_crawler_spark.sources.synthetic_site import MEDIA_KINDS, SiteConfig, SyntheticSite

# Blob rows carry their decoded metadata out of the SAME fetch pass:
# the bytes are already in Python memory here, so decoding costs one
# in-place pass; a separate decode stage would ship every body across
# the Arrow boundary a second time (measured: the second crossing +
# cache-scan GC cost ~3x the decode itself at media-heavy iterations).
FETCHED_EXTRA = [
    T.StructField("status", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("body", T.BinaryType()),
    T.StructField("n_attempts", T.IntegerType()),
    T.StructField("budget_denied", T.BooleanType()),
    T.StructField("rendition", T.StringType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("phash", T.LongType()),
]


def fetched_schema(frontier_schema: T.StructType) -> T.StructType:
    return T.StructType(list(frontier_schema.fields) + FETCHED_EXTRA)


def fetch_batch(
    dequeued: DataFrame,
    site_cfg: SiteConfig,
    pol: PolitenessConfig,
    media_parallelism: int | None = None,
) -> DataFrame:
    """Fetch every dequeued row. Returns frontier columns + status/kind/
    body/n_attempts/budget_denied (always false: the committed fetch_log
    schema keeps the column, but the dequeue is the only budget check).

    Partitioning follows the reference's two-tier politeness model:

    * PAGE fetches sleep per request (reference spiders.py:136), so one
      host's pages go to ONE task, sorted (priority, seq) — per-host
      serialization makes the inter-request delay exact. Not
      a skew hazard: the dequeue already capped each host at its budget,
      so the task is bounded by the budget, not by pending skew.
    * MEDIA fetches are unthrottled in the reference (no sleep in the
      download path, spiders.py:2981-2998), so blob rows spread by URL
      hash across ``media_parallelism`` partitions — the heavy payload
      stage scales with the cluster. The per-host media COUNT budget
      stays exact because the dequeue enforced it globally.
    """
    schema = fetched_schema(dequeued.schema)
    out_cols = [f.name for f in schema.fields]

    def _make_runner(throttle: bool, retry_cap: int):
        def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            site = SyntheticSite(site_cfg)
            bucket = TokenBucket(pol.delay_s) if throttle else None
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    if bucket is not None:
                        bucket.pace(r.host)
                    attempt = int(r.attempts) + 1
                    res = site.fetch(r.url, attempt)
                    while res.status == 500 and attempt < retry_cap:
                        attempt += 1
                        res = site.fetch(r.url, attempt)
                    body = res.body if res.body else res.text.encode("utf-8")
                    rendition = w = h = fmt = ph = None
                    if res.status == 200 and res.kind == "image_blob":
                        rendition = res.meta.get("size")
                        try:
                            px, fmt = decode_image(body)
                            h, w = int(px.shape[0]), int(px.shape[1])
                            ph = phash64(px)
                        except ValueError:
                            fmt = None  # undecodable payload -> dropped by the renditions filter
                    rows.append((*r, res.status, res.kind, body, attempt, False,
                                 rendition, w, h, fmt, ph))
                yield pd.DataFrame(rows, columns=out_cols)

        return _run

    if media_parallelism is None:
        # 4 tasks per core, not 1: the fetch stage is a UNION of the html
        # and media branches, so at exactly 1 partition per core a core
        # that draws two fat media tasks straggles while the rest idle —
        # measured as a 2.5x (not 4x) 2->8-core speedup on a mixed
        # html+media wave, while a pure-media wave (one balanced task
        # wave) scaled 4.3x. Finer tasks also balance every downstream
        # consumer of the fetched cache (fused staging, renditions,
        # images write). The crawl loop passes an explicit value sized
        # by its pending hint so thin iterations keep 1/core (64 near-
        # empty partitions cost more scheduling than they save).
        media_parallelism = 4 * dequeued.sparkSession.sparkContext.defaultParallelism
    is_blob = F.col("page_kind").isin(*MEDIA_KINDS)
    if pol.delay_s > 0:
        # rate-limited mode: one host's pages = one task, fetched in exact
        # (priority, seq) order so the inter-request delay is precise
        html = (
            dequeued.filter(~is_blob)
            .repartition("host")
            .sortWithinPartitions("host", "priority", "seq")
            .mapInPandas(_make_runner(True, pol.retry_cap_500), schema)
        )
    else:
        # unpaced mode: the dequeue already enforced the exact
        # per-host budget, and with no delay there is nothing to
        # serialize — spread pages like media so the stage scales
        html = (
            dequeued.filter(~is_blob)
            .repartition(media_parallelism, "canon_url")
            .mapInPandas(_make_runner(False, pol.retry_cap_500), schema)
        )
    media = (
        dequeued.filter(is_blob)
        .repartition(media_parallelism, "canon_url")
        .mapInPandas(_make_runner(False, pol.retry_cap_media), schema)
    )
    # media FIRST: tasks launch in partition-index order, so the fat
    # blob-decode tasks start while the small html tasks backfill the
    # stage's tail (longest-processing-time-first packing). With html
    # first, the last wave was all media — one 2-3x-skewed blob task
    # left the other cores idle behind it (measured: maxT 19.5 s vs
    # 8.5 s mean on a mixed wave at local[8], tools/stage_profile.py).
    return media.unionByName(html)


def fetch_drain(frontier: DataFrame, cfg: SiteConfig, pol: PolitenessConfig) -> DataFrame:
    """Budget-bounded fetch passes until the frontier drains; returns
    every fetched row (the union across passes).

    For one-shot jobs (liveness probe, seed generators) that have no
    crawl-iteration loop: each pass DEQUEUES at most (budget_html,
    budget_img) rows per host — the same politeness enforcement the
    crawl loop applies before fetching — fetches the batch, and carries
    the remainder into the next pass. One pass over an unbounded input
    would violate the per-host budget (and, on a wide cluster, let one
    host take every concurrent request). Each pass fetches >= 1 row per
    pending host, so the loop terminates; localCheckpoint truncates
    lineage so pass i+1 never re-runs pass i's fetches. The crawl loop
    does NOT use this — its iterations ARE the drain (T7 re-enqueue)."""
    from film_crawler_spark.operators.frontier import dequeue, remaining

    pending, parts = frontier, []
    while not pending.isEmpty():
        batch = dequeue(pending, pol.budget_html, pol.budget_img, n_salts=1)
        fetched = fetch_batch(batch, cfg, pol).localCheckpoint(eager=True)
        parts.append(fetched)
        pending = remaining(pending, fetched).localCheckpoint(eager=True)
    if not parts:
        return fetch_batch(frontier.limit(0), cfg, pol)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fetch_log_projection(fetched: DataFrame, it: int) -> DataFrame:
    """THE body-free fetch_log schema: frontier identity + fetch outcome
    + partition/body-length lineage, stamped with the iteration.

    Single definition shared by the crawl loop and the supplement job —
    both stage fetch_log deltas into the same log table, and read_log
    unions their parquet, so the two writers must never drift."""
    from film_crawler_spark.operators.frontier import FRONTIER_COLS

    return fetched.select(
        *FRONTIER_COLS,
        "status", "n_attempts", "budget_denied",
        F.spark_partition_id().alias("partition_id"),
        F.length("body").alias("body_len"),
    ).withColumn("iteration", F.lit(it))


def empty_fetch_log(spark) -> DataFrame:
    """A zero-row fetch_log frame: ``fetch_log_projection`` planned over
    an empty fetched frame (a local relation, so no Spark job). Its
    schema is the committed log's, so readers skip schema inference."""
    from film_crawler_spark.operators.frontier import FRONTIER_SCHEMA

    return fetch_log_projection(spark.createDataFrame([], fetched_schema(FRONTIER_SCHEMA)), 0)

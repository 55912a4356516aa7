"""The URL frontier: a per-host priority queue as a DataFrame.

The reference's frontier is an in-memory Python list sliced into
fixed-size epochs (reference spiders.py:208-277: epoch = THREADS*2 URLs,
slice at 270-271, order = sorted seeds optionally reversed at 93,
172-173). The engine makes it an explicit table:

    FRONTIER_SCHEMA: (url, canon_url, url_hash, shard, host, priority,
    seq, depth, page_kind, tt, rm, nm, vi, ev, co, attempts,
    discovered_at_iter)

Every frontier row of a seed list, a probe or a generator fetch is
built by ``frontier_rows``; the crawl loop derives the same columns for
discovered links.

Ordering contract (the "exact frontier ordering per host" gate):
within a host, URLs are dequeued in ascending (priority, seq) order.
``priority`` is the crawl depth (BFS: a title's pages before the next
depth), and ``seq`` is a fixed-width *path string* encoding the full
discovery lineage — seeds get their rank in the sorted (or reversed)
seed list as "%012d"; a URL discovered as the j-th link of its parent
gets parent_seq + "-%06d" % j. Lexicographic order over these strings
IS the traversal order, it is total (no ties) and deterministic at any
FRONTIER size — depth only appends segments; the per-parent fan-out is
bounded by the 6-digit segment width (10^6 children, enforced loudly in
``child_seq``; real fan-outs are <= ~10^2 pages/links per parent).

Dequeue is exact top-B-per-host computed in two phases so a hot host
never serializes a single task (north_rule: salted-key skew handling):

  phase 1: window over (host, salt) — salt = murmur3(canon_url) mod S —
           takes the per-salt top-B: a superset of <= S*B rows/host;
  phase 2: window over (host) on that superset takes the true top-B.

Phase 2's per-host group is bounded by S*B (small), so the global sort
work is spread in phase 1 and the exactness is restored in phase 2 —
the result is bit-identical to a serial per-host top-B.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from film_crawler_spark.functions.urls import canonicalize_url, shard_col
from film_crawler_spark.sources.synthetic_site import MEDIA_KINDS

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("canon_url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("host", T.StringType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("seq", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("page_kind", T.StringType()),
        T.StructField("tt", T.StringType()),
        T.StructField("rm", T.StringType()),
        T.StructField("nm", T.StringType()),
        T.StructField("vi", T.StringType()),
        T.StructField("ev", T.StringType()),
        T.StructField("co", T.StringType()),
        T.StructField("attempts", T.IntegerType()),
        T.StructField("discovered_at_iter", T.IntegerType()),
    ]
)
FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]


def seed_seq(rank: int) -> str:
    return f"{rank:012d}"


def frontier_rows(df: DataFrame) -> DataFrame:
    """THE frontier-row builder: FRONTIER_SCHEMA rows, in schema order,
    from ``url``, ``page_kind``, ``seq`` (the row's integer rank, written
    as ``seed_seq``) and whichever entity-id columns (tt, rm, nm, vi, ev,
    co) ``df`` has. canon_url, url_hash, shard and host derive from the
    url; every other column is 0 or null. Each caller keeps its own rank
    policy (global seed rank, monotonic id, list position)."""

    @F.pandas_udf("string")
    def canon(urls):
        return urls.map(canonicalize_url)

    @F.pandas_udf("string")
    def seq_key(ranks):
        return ranks.map(seed_seq)

    rows = df.withColumns({"canon_url": canon("url"), "seq": seq_key("seq")}).withColumns({
        "url_hash": F.xxhash64("canon_url"),
        "shard": shard_col(F.col("canon_url")),
        "host": F.regexp_extract("url", r"https://([^/]+)/", 1),
    })
    return rows.select(*[
        F.col(f.name) if f.name in rows.columns
        else F.lit(None if isinstance(f.dataType, T.StringType) else 0).cast(f.dataType).alias(f.name)
        for f in FRONTIER_SCHEMA.fields
    ])


def distributed_rank(
    df: DataFrame,
    order_cols: list,
    rank_name: str = "rank",
    start: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global dense 0-based rank over ``order_cols`` WITHOUT a single-task
    global window (the round-1 scale-killer: ``Window.orderBy`` with no
    partition key funnels every row through one task).

    Plan: range-partition by the sort key (partition id then increases
    along the global order), sort WITHIN partitions, and read off each
    row's (partition, offset) from ``monotonically_increasing_id`` —
    whose documented encoding is ``partition_index << 33 | row_offset``.
    Per-partition row counts (a tiny P-row aggregate) become cumulative
    offsets via a window over the P-row side only, broadcast-joined
    back. All declarative — no driver action, no collect — and the big
    table crosses the network exactly once (the range exchange; the
    counts branch reads it back as a ReusedExchange). Note the earlier
    formulation (row_number over partitionBy(spark_partition_id()))
    planned an EXTRA full hash-exchange on _pid because the window
    cannot see that rows are already partition-local — mono-id needs no
    window, so that shuffle is gone.

    Cross-branch consistency: the rank branch and the counts branch both
    derive _pid from the SAME materialized shuffle stage (ReusedExchange
    under AQE, plain exchange reuse without), and AQE's partition
    coalescing is a deterministic function of that one stage's sizes, so
    the two derivations always agree.

    ``order_cols``: list of Columns (may carry .desc()). Ranks are total
    and deterministic when the key is unique (seeds are distinct ids).
    """
    args = [num_partitions] if num_partitions else []
    p = df.repartitionByRange(*args, *order_cols).sortWithinPartitions(*order_cols)
    x = (
        p.withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_mid", 33).cast("int"))
        .withColumn("_rn", F.col("_mid").bitwiseAND((1 << 33) - 1) + 1)
        .drop("_mid")
    )
    counts = x.groupBy("_pid").agg(F.count("*").alias("_c"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "_pid", F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off")
    )
    return (
        x.join(F.broadcast(offs), "_pid")
        .withColumn(rank_name, (F.col("_rn") + F.col("_off") - 1 + start).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def child_seq(parent_seq: str, ordinal: int) -> str:
    """Fixed-width lineage step. 6 digits bounds a parent at 10^6
    children — far above any real fan-out (pagination ceil(n/48) pages,
    <= ~120 links per page). Lexicographic order breaks silently past
    the width ('1000000' < '0999999' is False but 7-digit vs 6-digit
    comparisons are prefix-dependent), so overflow fails loudly here
    instead of corrupting the replay-order contract."""
    if ordinal > 999_999:
        raise ValueError(
            f"child ordinal {ordinal} overflows the 6-digit seq width — "
            "a single parent fanned out >10^6 children; widen the field"
        )
    return f"{parent_seq}-{ordinal:06d}"


def budget_pass(keys: list[str], budget_html: int, budget_img: int) -> Column:
    """Each row's budget pass: its (priority, seq) rank within (keys...,
    kind-group), floor-divided by that group's budget. Pass 0 is one
    dequeue; pass p is the p-th dequeue of a loop that removes each
    batch. Pages and media are separate token pools (the reference
    throttles pages but not downloads, spiders.py:136 vs 2981-2998)."""
    grp = F.col("page_kind").isin(*MEDIA_KINDS).cast("int")
    cap = F.when(grp == 1, F.lit(budget_img)).otherwise(F.lit(budget_html))
    w = Window.partitionBy(*keys, grp).orderBy(F.col("priority").asc(), F.col("seq").asc())
    return F.floor((F.row_number().over(w) - 1) / cap)


def dequeue(
    pending: DataFrame,
    budget_html: int,
    budget_img: int,
    n_salts: int = 8,
) -> DataFrame:
    """Exact deterministic per-host top-B by (priority asc, seq asc),
    two-phase for skew, with per-kind budgets in ONE pass: the rows of
    ``budget_pass`` 0 over (host, kind-group)."""
    cols = pending.columns
    local = pending
    if n_salts > 1:
        # phase 1 — per-(host, salt, grp) local top-B (superset, parallel).
        # Worth one extra shuffle only when pending is big; the caller
        # passes n_salts=1 for small frontiers (result is identical —
        # phase 2 alone is already exact).
        local = (
            local.withColumn("_salt", F.pmod(F.hash("canon_url"), F.lit(n_salts)))
            .withColumn("_pass", budget_pass(["host", "_salt"], budget_html, budget_img))
            .filter(F.col("_pass") == 0)
            .drop("_pass", "_salt")
        )
    # phase 2 — exact per-(host, grp) top-B over the bounded superset
    return (
        local.withColumn("_pass", budget_pass(["host"], budget_html, budget_img))
        .filter(F.col("_pass") == 0)
        .select(*cols)
    )


def remaining(pending: DataFrame, dequeued: DataFrame) -> DataFrame:
    """Pending minus the dequeued batch. (canon_url, attempts) identifies
    a frontier entry uniquely — a retry re-enters as attempts+1."""
    return pending.join(
        dequeued.select("canon_url", "attempts"), on=["canon_url", "attempts"], how="left_anti"
    )

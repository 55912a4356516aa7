from __future__ import annotations

import pytest

from film_crawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="fcs-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def budget_peaks():
    """``peaks(io) -> (pages, media)``: the most page and media rows one
    host fetched in one iteration, from the warehouse's fetch_log. The
    dequeue is the only place that counts the per-host budget, so these
    are what it has to cap."""
    from pyspark.sql import functions as F

    from film_crawler_spark.sources.synthetic_site import MEDIA_KINDS

    def peaks(io) -> tuple[int, int]:
        media = F.col("page_kind").isin(*MEDIA_KINDS)
        per_host = io.read_log("fetch_log").groupBy("iteration", "host").agg(
            F.count(F.when(~media, 1)).alias("pages"), F.count(F.when(media, 1)).alias("media")
        )
        row = per_host.agg(F.max("pages"), F.max("media")).first()
        return row[0], row[1]

    return peaks

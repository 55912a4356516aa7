"""Warehouse integrity checker + corpus summary — the reference's
``wrongcsv`` and ``Summary`` utilities (reference utils.py:272-402).

``wrongcsv`` greps every per-title CSV for its expected key column and
collects ids whose files are malformed; ``Summary`` walks every CSV
counting rows ("samples") and rows x columns ("attributes"). The engine
equivalent audits the committed warehouse tables:

* schema check — each staged table's parquet schema must contain the
  expected columns (the engine's enforced StructTypes make violations
  nearly impossible, which is itself the P8 'wrong-CSV' fix: the check
  exists to catch foreign/corrupt warehouses, not engine bugs);
* summary — per-table row count and cell count (rows x columns), the
  reference's tot_samples / tot_attributes.

One Spark job per table, schema from parquet footers (no data scan for
the schema check; counts use the footer row-counts via count()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from film_crawler_spark.sources.tableio import TableIO

# minimal key columns per table — the engine twin of wrongcsv's
# {"list": [...csv], "keys": [...]} map (reference utils.py:279-285)
EXPECTED_KEYS = {
    "frontier": ["canon_url", "host", "priority", "seq"],
    "seen": ["canon_url", "url_hash", "shard"],
    "titles": ["tt", "name", "rating", "metascore", "n_images"],
    "captions": ["rm", "tt", "nm", "caption"],
    "sections": ["tt", "section", "ord", "f1"],
    "reviews": ["tt", "ord", "review_id"],
    "persons": ["nm", "name", "jobs", "born"],
    "credits": ["nm", "page", "ord", "tt"],
    "renditions": ["rm", "rendition", "bytes", "w", "h", "fmt", "phash"],
    "images": ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
    "dead_letter": ["canon_url", "attempts", "last_error"],
    "fetch_log": ["canon_url", "status", "page_kind", "iteration"],
    "videos": ["vi", "tt", "nm", "mp4_url"],
    "video_files": ["vi", "tt", "nm", "bytes", "n_bytes"],
    "news": ["tt", "nm", "ord", "title", "url", "date", "author", "source", "content"],
    "ratings": ["tt", "tot_users", "rating_by_score", "rating_by_demographic"],
    "psections": ["nm", "section", "ord", "f1"],
    "events_base": ["ev", "name", "year", "layout"],
    "event_awards": ["ev", "ord", "award_name", "is_winner"],
    "companies_base": ["co", "name", "n_titles"],
    "company_films": ["co", "page", "ord", "tt"],
}


def check_warehouse(spark: SparkSession, warehouse: str) -> DataFrame:
    """Audit every expected table of a committed warehouse. Returns one
    row per table: (table, present, schema_ok, missing_columns, n_rows,
    n_cols, n_cells). Totals = the reference Summary's tot_samples /
    tot_attributes when summed."""
    io = TableIO(spark, warehouse)
    rows = []
    for table, keys in EXPECTED_KEYS.items():
        df = io.read_log(table)
        if df is None:
            rows.append((table, False, False, keys, 0, 0, 0))
            continue
        missing = [k for k in keys if k not in df.columns]
        n_rows = df.count()
        n_cols = len(df.columns)
        rows.append((table, True, not missing, missing, n_rows, n_cols, n_rows * n_cols))
    return spark.createDataFrame(
        rows,
        "table string, present boolean, schema_ok boolean, "
        "missing_columns array<string>, n_rows long, n_cols int, n_cells long",
    )


def corpus_summary(report: DataFrame) -> dict:
    """The reference Summary's two headline numbers (utils.py:366-368)."""
    agg = report.agg(
        F.sum("n_rows").alias("tot_samples"), F.sum("n_cells").alias("tot_attributes")
    ).collect()[0]
    return {"tot_samples": agg["tot_samples"], "tot_attributes": agg["tot_attributes"]}


def wrong_tables(report: DataFrame) -> list[str]:
    """Tables that would land in the reference's *_check.csv: absent or
    schema-violating (utils.py:307-311)."""
    return [
        r["table"]
        for r in report.filter(~F.col("present") | ~F.col("schema_ok")).collect()
    ]

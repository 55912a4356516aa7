"""Fused single-pass staging of the thin result tables.

Round-2 measured the crawl's per-iteration driver floor: ~20 concurrent
staging jobs per iteration (one Spark write per result table), each
paying job planning + scheduling + a Python-worker fan-out over the fat
fetched cache. Kind-aware empty-delta elision removed the no-op jobs,
but a mixed iteration still ran ~14 separate extract-and-write jobs —
the fixed cost that capped 8->32 scaling at 0.36 (BENCH/BASELINE.md).

This module replaces all of them with ONE job: a single ``mapInPandas``
pass over the fetched cache that runs every ``parse.THIN_TABLES`` row
parser and writes each table's partition shard directly to the staging
directory via pyarrow. The executor-side write is safe under the
engine's commit protocol precisely because TableIO's visibility point is
the manifest, not the file write (sources/tableio.py): staged files are
invisible until ``commit(it)``, re-running an iteration re-clears the
directories, and each task writes through a hidden ``.tmp`` + atomic
rename so a killed task never leaves a readable partial file (parquet
readers ignore dot-files). On a real cluster this is the standard
manifest-committed multi-sink pattern (Iceberg/Delta commit semantics):
1000 executors write shards for 14 tables in one stage — no driver
round-trip per table, no repeated scan of the fetched bodies.

Determinism: shard files are named ``part-<partitionId>.parquet``, so a
task retry overwrites its own output; row content per partition is a
pure function of the fetched rows. The resume/compaction equality tests
gate this (tests/test_resume.py), and the replay suite gates parser
parity table-by-table.
"""

from __future__ import annotations

import os
import shutil
from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from film_crawler_spark.operators.parse import THIN_TABLES
from film_crawler_spark.sources.tableio import TableIO

_SUMMARY_SCHEMA = T.StructType(
    [T.StructField("table", T.StringType()), T.StructField("rows", T.LongType())]
)


def _staged_schema(schema: T.StructType) -> T.StructType:
    """Table schema + the iteration lineage column every staged delta carries."""
    return T.StructType(list(schema.fields) + [T.StructField("iteration", T.IntegerType())])


def stage_thin_tables(
    ok: DataFrame,
    io: TableIO,
    it: int,
    exclude: frozenset[str] = frozenset(),
    kinds_present: set[str] | None = None,
    parallelism: int | None = None,
) -> dict[str, int]:
    """One Spark job: parse + stage every THIN_TABLES delta for
    iteration ``it``. Returns per-table staged row counts.

    ``ok`` must carry the frontier columns + ``kind`` + ``body`` (the
    crawl loop's 200-status slice of the fetched cache).
    ``exclude`` skips tables the caller stages another way (captions on
    compaction iterations, where the FULL union is staged as a base).
    ``kinds_present`` (when the caller already knows the iteration's
    fetched page kinds) lets a media-only iteration skip the fused job
    entirely: the pre-seeded empty shards already make every staged dir
    readable, so scanning the multi-GB blob cache with Python workers
    just to emit zero rows would be pure overhead.
    ``parallelism`` coalesces the scan before the Python stage — the
    fetched cache is partitioned at 4 tasks/core for fetch-wave packing,
    but a Python parse pass at that granularity pays 4x the worker
    round-trips for the same rows (crawl_loop passes one task per core).
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    specs = {
        table: (kind, fn, to_arrow_schema(_staged_schema(schema)))
        for table, (kind, fn, schema) in THIN_TABLES.items()
        if table not in exclude
    }
    dirs = {table: io._tdir(table, it) for table in specs}
    for table, d in dirs.items():
        # re-clear (overwrite-idempotent re-run of a failed iteration) and
        # pre-seed the schema-bearing empty shard so every staged dir is
        # readable even when no partition emits rows for the table
        shutil.rmtree(d, ignore_errors=True)
        io.stage_empty(_staged_schema(THIN_TABLES[table][2]), table, it)

    kind_parsers: dict[str, list[tuple]] = {}
    for table, (kind, fn, arrow_schema) in specs.items():
        kind_parsers.setdefault(kind, []).append((table, fn, arrow_schema))

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        buf: dict[str, list] = {t: [] for t in specs}
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                parsers = kind_parsers.get(r.kind)
                if not parsers:
                    continue
                body = r.body.decode("utf-8", "replace")
                for table, fn, _ in parsers:
                    buf[table].extend(fn(r, body))
        out = []
        for table, (kind, fn, arrow_schema) in specs.items():
            rows = buf[table]
            if not rows:
                continue
            cols = [
                pa.array([row[i] for row in rows], type=f.type)
                for i, f in enumerate(arrow_schema)
                if f.name != "iteration"
            ]
            cols.append(pa.array([it] * len(rows), type=pa.int32()))
            # tmp name carries the task ATTEMPT id: two live attempts of
            # the same partition (speculation, zombie task after a
            # driver-perceived failure) must not share a tmp path, or one
            # can os.replace a file the other is still writing into. The
            # final name stays partition-keyed — content is deterministic
            # per partition, so whichever attempt publishes last wins
            # with identical bytes.
            att = TaskContext.get().taskAttemptId()
            tmp = os.path.join(dirs[table], f".part-{pid:05d}-{att}.parquet.tmp")
            pq.write_table(pa.table(cols, schema=arrow_schema), tmp)
            os.replace(tmp, os.path.join(dirs[table], f"part-{pid:05d}.parquet"))
            out.append((table, len(rows)))
        yield pd.DataFrame(out, columns=["table", "rows"])

    counts = {table: 0 for table in specs}
    kinds = tuple(kind_parsers)
    if kinds_present is not None and kinds_present.isdisjoint(kinds):
        return counts
    src = ok.filter(F.col("kind").isin(*kinds))
    if parallelism:
        src = src.coalesce(parallelism)
    shard_counts = (
        src.mapInPandas(_run, _SUMMARY_SCHEMA)
        .groupBy("table")
        .agg(F.sum("rows").alias("rows"))
        .collect()
    )
    counts.update({r["table"]: r["rows"] for r in shard_counts})
    return counts

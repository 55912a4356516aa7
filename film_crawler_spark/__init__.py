"""film_crawler_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch, Spark-first rebuild of the observable semantics of the
reference crawler (TraceIvan/film_crawler, surveyed in SURVEY.md): seed
ordering, frontier traversal, URL-seen set, politeness budget, retry and
dead-letter policy, pagination fan-out, extraction schemas, checkpoint and
resume, and per-iteration metrics — re-expressed as DataFrame jobs with
vectorized Arrow UDFs, explicit partitioning, and an atomic table-commit
layer (Iceberg-style manifest log over Parquet).

Subpackages
-----------
functions   column-level primitives: URL canonicalization/hashing, image
            codecs (pure NumPy; no Pillow in sandbox), perceptual hash,
            text analysis (language id, quality, tokens, fingerprints).
sources     seed scans, the deterministic synthetic site resolver (the
            sandbox stand-in for HTTP fetch), and TableIO (Parquet +
            atomic manifest commits).
operators   frontier dequeue, token-bucket politeness, robots filter,
            fetch/parse stages, dedup family, similarity search.
plans       the iterative crawl-loop driver (its seen filter is one exact
            anti-join) and checkpoint/resume.
streaming   Structured Streaming adapters for the metrics/event path.
"""

__version__ = "0.1.0"

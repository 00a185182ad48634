"""web_crawler_spark — a PySpark-native crawl frontier + fetch scheduler.

A from-scratch analytics engine with the data-processing capabilities of the
reference repo (Sayam241020/web-crawler, a single-process Python crawler), re-expressed
as Spark DataFrame pipelines: URL canonicalization + 64-bit hashing (vectorized,
Arrow-batched), exact + approximate URL-seen membership (anti-join, partitioned Bloom
filter as a words table, exact derived hot tier), per-host politeness-aware priority selection (salted window
top-k), simulated fetch against an image+caption lake table with per-row PSNR/caption
validation, error-taxonomy dataflow, resumable multi-round scheduling with lineage
counters, and a suite of training-data pipeline operators (dedup, similarity search,
text analysis).

Layout:
    session.py     SparkSession factory tuned for local[N] testing / cluster submit
    schemas.py     every table schema (frontier, pages, links, robots, fetch_log, ...)
    functions/     scalar/column function libraries (urls, text, images, hashing)
    operators/     dataflow operators (dedupe, politeness, bloom, membership,
                   errors, similarity)
    sources/       seed CSV reader, deterministic fixture generator, snapshot lake
    plans/         the scheduling-round pipeline, crawl loop, stats aggregations
    streaming/     Structured Streaming wrapper around the round function
"""

__version__ = "0.1.0"

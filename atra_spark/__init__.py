"""atra_spark — a PySpark-native rebuild of the atra crawl engine.

A brand-new implementation (NOT a port) of the capabilities of the
reference crawler FelixEngl/atra (Rust, at /root/reference): a
distributed URL-frontier + fetch scheduler expressed as idiomatic
PySpark — DataFrame ops, vectorized pandas/Arrow UDFs, grouped
``applyInPandas`` state — over partitioned parquet/Iceberg-style
checkpoint tables of Common-Crawl-style pages.

Subpackages
-----------
- ``atra_spark.schemas``    explicit StructTypes for every table
- ``atra_spark.urlkit``     pure-Python URL kernel (canonicalize, origin, depth)
- ``atra_spark.functions``  vectorized pandas UDFs (decode, extract, lang, dedup)
- ``atra_spark.operators``  frontier / seen-set / politeness / bloom operators
- ``atra_spark.sources``    deterministic fixture synthesis + table store
- ``atra_spark.plans``      the round-loop crawl driver
"""

__version__ = "0.1.0"

# Python workers import this package when they unpickle any engine UDF,
# so the patch lives for the whole life of a reused worker: PySpark
# calls importlib.invalidate_caches() before every task
# (pyspark/worker_util.py:144), which otherwise makes each zipimporter
# on pyspark.zip re-read the archive directory (~0.27 CPU-s per task).
from . import _zipcache

_zipcache.install()

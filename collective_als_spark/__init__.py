"""collective_als_spark — a PySpark-native analytics + CMF engine.

A from-scratch rebuild of the capabilities of the reference library
``jongwook/collective-als`` (a Scala/Spark Collective Matrix
Factorization library extending MLlib ALS to N entities), expressed
Spark-first: DataFrame/SQL plans optimized by Catalyst, Arrow-batched
pandas UDFs only for the per-block normal-equation solves, and a set
of large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) on top.

Layout:
  session      — tuned SparkSession builder
  sources      — testdata / file readers
  functions    — scalar & vector column expressions (UDF-free where possible)
  operators    — relational + pipeline operators (split, metrics, dedup, ...)
  cmf          — CollectiveALS / CollectiveALSModel (the reference's core)
  streaming    — Structured Streaming operators
"""

__all__ = ["CollectiveALS", "CollectiveALSModel", "get_spark"]
__version__ = "0.1.0"

# Exports resolve on first access: the worker daemon (``pydaemon``) is
# imported as a submodule of this package and must not pull pyspark.sql,
# numpy and pandas into every Python worker process.
_EXPORTS = {
    "CollectiveALS": "collective_als_spark.cmf",
    "CollectiveALSModel": "collective_als_spark.cmf",
    "get_spark": "collective_als_spark.session",
}


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(_EXPORTS[name]), name)

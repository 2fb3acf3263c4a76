"""Session defaults: the generated-code cache holds the engine's working set."""

import importlib.util
import os

from pyspark import SparkConf

from atra_spark.session import CODEGEN_CONF

# Spark 4.1's default spark.sql.codegen.cache.maxEntries
OLD_DEFAULT_ENTRIES = 100
# each shape compiles under the driver's and the executor's class loader
N_SHAPES = OLD_DEFAULT_ENTRIES // 2 + 5


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_shapes(spark) -> int:
    """Compile count of one query over N_SHAPES distinct tiny stages: a
    union's children are separate whole-stage codegen subtrees."""
    before = _compiles(spark)
    spark.sql(
        " UNION ALL ".join(f"SELECT id + {i} AS x FROM range(0, 4, 1, 1)" for i in range(N_SHAPES))
    ).write.format("noop").mode("overwrite").save()
    return _compiles(spark) - before


def test_repeated_shapes_compile_once(spark):
    """A working set larger than the old 100-entry LRU is compiled once:
    the second pass over the same shapes compiles nothing."""
    first = _run_shapes(spark)
    assert first > OLD_DEFAULT_ENTRIES, f"first pass compiled only {first} classes"
    assert _run_shapes(spark) == 0


def test_submit_crawl_keeps_submitted_conf():
    """The spark-submit driver fills in only the codegen settings that
    --conf left unset."""
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "submit_crawl.py")
    spec = importlib.util.spec_from_file_location("submit_crawl", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    submitted = SparkConf(loadDefaults=False).set("spark.sql.codegen.cache.maxEntries", "64")
    assert mod.codegen_defaults(submitted) == {
        k: v for k, v in CODEGEN_CONF.items() if k != "spark.sql.codegen.cache.maxEntries"
    }
    assert mod.codegen_defaults(SparkConf(loadDefaults=False)) == CODEGEN_CONF

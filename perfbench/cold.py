"""Cold-session lifecycle: a fresh SparkContext per pass, and a guard
that no invocation starts with a persisted RDD or a cached plan.
"""

from __future__ import annotations

import importlib
import pkgutil
import time


class ColdViolation(RuntimeError):
    """An invocation was about to start on a session holding cached data."""


def leaks(spark) -> tuple[int, int]:
    """(persisted RDDs, CacheManager entries) currently held by `spark`."""
    rdds = len(spark.sparkContext._jsc.getPersistentRDDs())
    cm = spark._jsparkSession.sharedState().cacheManager()
    # CacheManager exposes no size; read its private entry list.
    fld = cm.getClass().getDeclaredField("cachedData")
    fld.setAccessible(True)
    return rdds, fld.get(cm).size()


def assert_cold(spark) -> None:
    rdds, plans = leaks(spark)
    if rdds or plans:
        raise ColdViolation(f"{rdds} persisted RDD(s) and {plans} cached plan(s) left")


def release(spark) -> tuple[int, int]:
    """Count what the last invocation left behind, then drop all of it."""
    left = leaks(spark)
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    assert_cold(spark)
    return left


def import_engine() -> None:
    """Import every engine module up front.

    The catalog imports operator modules inside the query functions; left
    lazy, the first query of a pass to touch a module pays its import.
    """
    import inputosm_spark

    for mod in pkgutil.walk_packages(inputosm_spark.__path__, "inputosm_spark."):
        importlib.import_module(mod.name)


def _worker_probe(batches):
    import inputosm_spark  # noqa: F401  (the import is what is timed)

    yield from batches


def start_session(cpus: int, conf: dict[str, str]):
    """Fresh SparkSession on local[cpus]; returns (spark, session_s)."""
    from inputosm_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cpus=cpus, app_name="perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t0


def start_workers(spark, cpus: int) -> float:
    """Seconds until `cpus` Python workers run with the engine imported."""
    t0 = time.perf_counter()
    spark.range(0, cpus, 1, cpus).mapInPandas(_worker_probe, "id long").toPandas()
    return time.perf_counter() - t0


def warm_up(spark, cpus: int, parquet: str) -> None:
    """Load the code paths every query needs before the first is timed.

    The query reads the small `parquet` table, joins, windows, maps
    strings through array lambdas and aggregates it, and hands the result
    through a pandas map collected with toPandas, one task per core. It
    loads the scan, planner, shuffle, Arrow and codegen paths, so the
    first query's clock does not pay them.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    facts = spark.range(0, 4096, 1, cpus).selectExpr("id % 97 AS k", "id AS v")
    dims = spark.read.parquet(parquet).selectExpr("n_nationkey AS k", "n_name AS name")
    ranked = facts.join(dims, "k").withColumn(
        "r", F.row_number().over(Window.partitionBy("name").orderBy("v"))).withColumn(
        "name", F.array_join(F.array_distinct(F.transform(
            F.split(F.lower("name"), ""), lambda c: F.regexp_replace(c, "[aeiou]", "_"))), ""))
    (ranked.groupBy("name").agg(F.sum("v").alias("v"), F.max("r").cast("long").alias("r"))
     .repartition(cpus).mapInPandas(_worker_probe, "name string, v long, r long").toPandas())

"""Session settings that hold across the whole suite: the codegen class
cache keeps a working set larger than Spark's default 100 classes, so a
repeated plan reuses its compiled classes instead of recompiling them."""

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from sparsity_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles

PLANS = 110  # each compiles two classes, so the rounds overflow a 100-entry cache


def _run_plans(spark) -> None:
    # the literals are inlined into the generated source, so every plan
    # compiles its own classes; concurrent jobs keep the test short
    def run(i):
        return spark.range(0, 4, 1, 1).select((F.col("id") * i + i * 7).alias("x")).collect()

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(run, range(PLANS), timeout=300))


def test_codegen_cache_holds_repeated_plans(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    before = codegen_compiles(spark)
    _run_plans(spark)
    first = codegen_compiles(spark) - before
    assert first > 100, first
    before = codegen_compiles(spark)
    _run_plans(spark)
    assert codegen_compiles(spark) - before == 0

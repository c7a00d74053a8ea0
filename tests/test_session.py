"""Session settings that hold across the whole suite: the codegen class
cache keeps a working set larger than Spark's default 100 classes, so a
repeated plan reuses its compiled classes instead of recompiling them, and
every shuffle writes its map output once."""

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


def _jvm_wchar(spark) -> int:
    """Bytes the driver JVM has passed to write(2) so far, across all threads."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/io") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("wchar:"))


def _shuffle_written(spark) -> int:
    """Shuffle bytes Spark reports written so far, once the listener bus has
    delivered every task-end event to the status store."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().executorSummary("driver").totalShuffleWrite()


def test_shuffle_writes_each_byte_once(spark):
    # at most 200 reduce partitions would take the bypass writer, which
    # writes every map output byte twice: a ratio of 2.0
    assert spark.conf.get("spark.shuffle.sort.bypassMergeThreshold") == "0"
    keyed = spark.range(200000).select(F.concat(F.lit("key-"), F.col("id")).alias("key"))
    shuffled, wrote = _shuffle_written(spark), _jvm_wchar(spark)
    keyed.repartition(4, "key").count()
    shuffled = _shuffle_written(spark) - shuffled
    wrote = _jvm_wchar(spark) - wrote
    assert shuffled > 1_000_000, shuffled
    assert wrote <= 1.2 * shuffled, (wrote, shuffled)

"""Small shared planning helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def local_df(spark, rows, schema: str) -> DataFrame:
    """Driver-local, metadata-sized DataFrame in ONE slice (r12).

    ``spark.createDataFrame(list)`` parallelizes into defaultParallelism
    slices, so every downstream action schedules `cpus` near-empty tasks,
    each paying a Python-deserialize round trip — measured 6.9 s of task
    time for the 8-row centroid table's noop save at 32 cores, and ~0.2 s
    per slice. A post-hoc ``.coalesce(1)`` is WORSE (one task pulls all 32
    driver-held slices sequentially: 0.5 s → 5.2 s measured); cutting the
    slice count at parallelize time is both: 0.21 s for a 2,080-row table
    vs 0.53 s plain. Use for codebooks, centroids, offset maps — anything
    the driver already holds whole."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def overlap_jobs(*fns) -> list:
    """Run independent driver actions concurrently (guide §2.6: Spark's
    scheduler happily overlaps jobs; actions are only sequential because
    the driver calls them sequentially). Shared by every store that writes
    two+ independent tables. Waits for ALL submissions and re-raises the
    first failure with any others attached as context (ADVICE r11: the
    submit-then-result-in-order form silently dropped the second
    exception). Returns the callables' results in order."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futures = [pool.submit(fn) for fn in fns]
        results, errors = [], []
        for fu in futures:
            try:
                results.append(fu.result())
            except Exception as e:  # noqa: BLE001 — collect, then re-raise
                errors.append(e)
        if errors:
            first = errors[0]
            for extra in errors[1:]:
                first.add_note(f"also failed concurrently: {extra!r}")
            raise first
        return results


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY when the input has fewer partitions than cores.

    CPU-heavy per-row work (shingling, hashing, tokenizing) over a small
    number of large-ish files otherwise runs on one thread per file —
    parquet can't split below a row group. On a real cluster with many
    input files this is a no-op; the guard means we never pay a shuffle
    that isn't buying parallelism.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def zip_with_position(
    df: DataFrame, order_cols: list[str], out_col: str, persist: bool = True
) -> DataFrame:
    """Distributed 0-based position by ``order_cols`` — the scale-safe
    replacement for ``row_number() OVER (ORDER BY ...)``.

    A global window funnels every row through ONE task; here the work is a
    range-partitioned sort (the same shuffle a global sort needs anyway)
    plus one metadata-sized job: per-partition row counts (one long per
    partition) are collected, turned into cumulative offsets, and each
    partition numbers its own rows locally with offset + local index via
    Arrow-batched mapInPandas. Work per task is bounded by partition size
    at any data scale.

    The sorted frame is persisted (storage-level MEMORY_AND_DISK) so the
    count job and the numbering job see the identical partitioning — range
    boundaries are sampled, so recomputing between jobs could drift. The
    partition id is BAKED INTO the cached data as a column (not read from
    TaskContext at numbering time): when this plan later runs inside a
    union, the executing task's physical partition id is renumbered across
    branches and would miss the offsets map — the frozen column can't.
    If a cached partition is evicted AND lost-and-recomputed into a
    different row distribution (executor loss), the numbering job fails
    loudly: each stream validates pid uniformity and its exact row count
    against the count job's tally (ADVICE r3) rather than silently
    emitting shifted positions. The cache entry itself is cleaned by
    Spark's ContextCleaner when the plan is garbage-collected; callers
    doing many positional ops in one long-lived session can pass
    ``persist=False`` and persist/unpersist explicitly around the op.
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    sorted_df = (
        df.repartitionByRange(n_part, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__zip_pid__", F.spark_partition_id())
    )
    if persist:
        sorted_df = sorted_df.persist(StorageLevel.MEMORY_AND_DISK)
    counts = sorted_df.groupBy("__zip_pid__").count().collect()
    offsets, acc = {}, 0
    for row in sorted(counts, key=lambda r: r["__zip_pid__"]):
        offsets[row["__zip_pid__"]] = (acc, row["count"])
        acc += row["count"]
    b_offsets = spark.sparkContext.broadcast(offsets)
    out_fields = [f for f in sorted_df.schema.fields if f.name != "__zip_pid__"]
    out_schema = StructType(out_fields + [StructField(out_col, LongType())])

    def number_partition(iterator):
        # Validation (ADVICE r3): if a cached partition is lost and
        # recomputed, repartitionByRange may redistribute rows across the
        # SAME pid set — a missing pid isn't the only corruption mode. So
        # (a) every batch must carry the stream's single frozen pid, and
        # (b) the rows seen must equal the count job's tally for that pid.
        seen, pid, start, expect = 0, None, 0, 0
        for pdf in iterator:
            if not len(pdf):
                continue
            pids = pdf["__zip_pid__"].unique()
            if pid is None:
                if len(pids) != 1 or int(pids[0]) not in b_offsets.value:
                    raise ValueError(
                        f"zip_with_position: partition ids {list(pids)} do not "
                        f"match the count job's partitioning — cached data was "
                        f"recomputed differently; positions would be corrupt"
                    )
                pid = int(pids[0])
                start, expect = b_offsets.value[pid]
            elif len(pids) != 1 or int(pids[0]) != pid:
                raise ValueError(
                    f"zip_with_position: mixed partition ids {list(pids)} in "
                    f"one stream (expected {pid}) — positions would be corrupt"
                )
            pdf = pdf.drop(columns=["__zip_pid__"])
            pdf[out_col] = range(start + seen, start + seen + len(pdf))
            seen += len(pdf)
            yield pdf
        if pid is not None and seen != expect:
            raise ValueError(
                f"zip_with_position: partition {pid} produced {seen} rows but "
                f"the count job saw {expect} — cached data was recomputed "
                f"differently; positions would be corrupt"
            )

    return sorted_df.mapInPandas(number_partition, schema=out_schema)

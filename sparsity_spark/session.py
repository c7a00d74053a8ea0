"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB posture: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow on (vectorized Python UDF
transfer), and shuffle partitions sized for the local harness (on a real
cluster AQE's coalescing makes the static number mostly a ceiling).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's codegen class cache (spark.sql.codegen.cache.maxEntries), sized to
# the engine's working set: see get_spark
CODEGEN_CACHE_ENTRIES = 4096

# the directory that holds the sparsity_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _scratch_root() -> str:
    """Fast scratch for shuffle files, localCheckpoint blocks, and the
    bucketed-store warehouse (r11, guide §2.1/§6: provision shuffle and
    scratch I/O on the fastest local storage available — production
    clusters put spark.local.dir on local NVMe for exactly this reason).
    This sandbox's /tmp is a virtio disk whose fsync latency stalls for
    multi-second stretches under the bench's table-write bursts
    (measured: identical store-lifecycle rows swing 4.8-15.1 s on /tmp
    vs a stable 1.9-2.1 s on tmpfs); a RAM-backed scratch removes the
    artifact. Env-overridable for machines where RAM is the scarcer
    resource; the store tables are session-scratch (rebuilt per
    application id), so tmpfs volatility costs nothing."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if root:
        return root
    # free-space guard (r12, VERDICT r11 #8): tmpfs has no spill path — a
    # store-table burst that outgrows shared memory fails the WRITE where
    # /tmp would merely slow down. Only prefer /dev/shm when it has a
    # comfortable multiple of the session's expected scratch footprint
    # (bucketed store tables + shuffle files — ~100 MB at sf0.1, ~1 GB at
    # sf1; 4 GiB ≈ 4× the largest measured).
    if os.access("/dev/shm", os.W_OK):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 4 * 1024**3:
                return "/dev/shm"
        except OSError:
            pass
    return "/tmp"


def get_spark(app_name: str = "sparsity_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    scratch = _scratch_root()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        # a shuffle with <= 200 reduce partitions takes the bypass writer,
        # which writes each byte twice (one file per reduce partition, then
        # copied into the map output file). A >200-partition cluster already
        # runs the serialized writer, so this makes the local harness run the
        # cluster's shuffle path (measured: a 1.10 MB repartition(4) wrote
        # 2.21 MB through the bypass writer, 1.10 MB through this one).
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # parallelismFirst and the 64 MB advisory size stay at Spark's
        # defaults: r12 measured the alternatives slower on this suite.
        # ... but LOWER the coalescing floor from Spark's 1 MB default: the
        # suite's compute-dense mid-size exchanges (PPJoin candidate
        # verify, phash pair enumeration) shuffle a few MB that carry
        # seconds of downstream work — at the 1 MB floor AQE coalesced the
        # verify join to 5 fat tasks (one 1.6 s straggler span measured);
        # at 256 KB the same exchange keeps ~20 partitions and the row
        # drops 5.5→3.3 s (A/B, dedup_lsh_recall). KB-sized loop-state
        # exchanges still coalesce to ONE task either way, and a real
        # cluster's 100 MB+ exchanges never feel the floor — the knob is
        # bytes-adaptive, not core-count-tuned.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", str(256 * 1024)
        )
        # a single ~100 MB parquet file scans as 1 split under the default
        # 128 MB maxPartitionBytes — compute-heavy per-row work after a
        # broadcast join then runs on ONE core (measured at sf1: jaccard
        # prefix join at 1.7 avg threads on a 32-core box). Asking for at
        # least one split per core fixes the local calibration; a real
        # cluster's many-file tables already exceed this floor.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # ... but minPartitionNum only bites if openCostInBytes lets it:
        # the default 4 MB open cost FLOORS the split size, so a ~6 MB
        # local table still scans as 2 splits and every map-side stage
        # before the first shuffle runs ~2 tasks on 32 cores (measured:
        # full-corpus ppjoin at sf1 33 s → 4-5 s once the scan splits,
        # r7). 256 KB keeps multi-MB scans honestly parallel while
        # leaving sub-MB sf0.1 tables at a handful of splits — 64 KB
        # shredded those into 32 micro-tasks and cost a diffuse
        # +0.2-0.5 s per query in scheduler overhead (measured, r7).
        # A real cluster's 100 MB+ files never feel this floor.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark keeps 100 compiled codegen classes by default, but this
        # engine runs many small plans: a warm pass needs ~105 classes on the
        # perfbench frame_algebra workload, ~260 on incremental_stores and
        # ~2450 in bench.py's warm pass at sf0.01. At 100 each warm pass
        # recompiled what the pass before had evicted, in Janino and then
        # again in the JIT: 68 compiles a frame_algebra pass, 298 an
        # incremental_stores pass. At 4096 they are 0 and 19; the 19 are
        # sources with per-batch literals, new on every pass. A static conf:
        # only a new session picks it up.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # bucketed-table support without polluting the repo: warehouse +
        # shuffle/checkpoint scratch live on the fast scratch root (see
        # _scratch_root)
        .config("spark.sql.warehouse.dir", f"{scratch}/sparsity_spark_warehouse")
        .config("spark.local.dir", f"{scratch}/sparsity_spark_local")
        # ReservedCodeCacheSize: the default 240 MB JIT code cache cannot
        # hold two codegen-giant queries at once (simhash's 64-term
        # bit-majority fold, ppjoin's fold chains) — their compiled
        # whole-stage methods evict each other and every rerun recompiles,
        # measured as monotonically-degrading walls (ppjoin at sf1:
        # 7.9 → 16.4 s run-over-run; simhash's 114-665 cpu-s swings in
        # SCALE.md). 1 GiB reserves address space only (committed lazily)
        # and makes both stable AND faster (~5-7 s). Real codegen-heavy
        # Spark deployments ship exactly this flag.
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        # the driver's testdata parquet carries TIMESTAMP(NANOS) columns,
        # which Spark only reads as long via this legacy flag; data.py
        # converts them back to proper timestamps
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # kernels call this package's module functions (media codecs, BPE
        # merges, TrailDB decode), which cloudpickle ships by reference:
        # the Python workers import the package from its root, also when
        # the driver runs outside the repo
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    # measurement hook (r12): SPARK_GRAFT_EVENTLOG=<dir> turns on the
    # standard Spark event log so probes can count jobs/stages/tasks and
    # attribute wall time (guide §1/§7) — off unless explicitly requested,
    # zero effect on any timed path otherwise
    evlog = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if evlog:
        os.makedirs(evlog, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", evlog)
            # plain single-file JSON so the probe can read it with stdlib
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM: one per codegen class-cache miss."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()

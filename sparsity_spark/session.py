"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB posture: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow on (vectorized Python UDF
transfer), and shuffle partitions sized for the local harness (on a real
cluster AQE's coalescing makes the static number mostly a ceiling).
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shlex
import shutil
import subprocess
import tempfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Spark's codegen class cache (spark.sql.codegen.cache.maxEntries), sized to
# the engine's working set: see get_spark
CODEGEN_CACHE_ENTRIES = 4096

# the directory that holds the sparsity_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the `file:` FileSystem that sets permissions through java.nio: its source,
# compiled on first use, and the class the session names
_NIO_FS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java")
_NIO_FS_CLASS = "sparsity.NioLocalFileSystem"


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


def _javac() -> str | None:
    java_home = os.environ.get("JAVA_HOME")
    if java_home and os.access(os.path.join(java_home, "bin", "javac"), os.X_OK):
        return os.path.join(java_home, "bin", "javac")
    return shutil.which("javac")


def _nio_fs_classes() -> str | None:
    """The class directory of ``NioLocalFileSystem``, built once per source
    text and Hadoop client jar into the per-user cache, or None when there is
    no javac or the compile fails. Not under TMPDIR or the scratch root: a
    caller that points those at a per-run directory would rebuild it (about
    1.5 s) on every run. The classes are compiled aside and the directory is
    renamed into place, so two sessions starting at once never load a torn
    one."""
    hadoop = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    if not hadoop:
        return None
    with open(_NIO_FS_SOURCE, "rb") as f:
        key = f.read() + os.path.basename(hadoop[-1]).encode()
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "sparsity_spark"
    )
    classes = os.path.join(cache, f"nio-local-fs-{hashlib.sha256(key).hexdigest()[:16]}")
    if os.path.isdir(classes):
        return classes
    javac = _javac()
    if javac is None:
        return None
    try:
        os.makedirs(cache, exist_ok=True)
        build = tempfile.mkdtemp(dir=cache)
        try:
            subprocess.run(
                [javac, "--release", "17", "-cp", hadoop[-1], "-d", build, _NIO_FS_SOURCE],
                check=True,
                capture_output=True,
                timeout=300,
            )
            os.replace(build, classes)
        finally:
            # left behind when the compile failed or another session's
            # directory won the rename
            shutil.rmtree(build, ignore_errors=True)
    except (OSError, subprocess.SubprocessError):
        pass
    return classes if os.path.isdir(classes) else None


def _defaults_class_path() -> str | None:
    """``spark.driver.extraClassPath`` from spark-defaults.conf, which a
    ``--conf`` of the same key replaces rather than extends."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            lines = f.read().splitlines()
    except OSError:
        return None
    found = None  # a later line of the same key wins, as in java.util.Properties
    for line in lines:
        m = re.match(r"spark\.driver\.extraClassPath\s*[=:\s]\s*(.*)", line.strip())
        if m:
            found = m.group(1).strip()
    return found


def _local_fs_conf() -> dict[str, str]:
    """The settings that put ``NioLocalFileSystem`` behind ``file:``, or none
    (stock Hadoop) when its classes cannot reach the driver JVM. get_spark
    builds local[N] sessions only, so the driver's class path reaches every
    task."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()  # a JVM launched by spark-submit
    jvm = SparkContext._jvm
    if jvm is not None:
        # the JVM is up (a stopped session leaves it running for the next
        # one) and its class path is fixed: name the class only if it loads
        found = jvm.org.apache.hadoop.conf.Configuration(False).getClassByNameOrNull(_NIO_FS_CLASS)
        return {} if found is None else {"spark.hadoop.fs.file.impl": _NIO_FS_CLASS}
    submit = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    if any(
        a.partition("=")[0] == "--driver-class-path" or a.startswith("spark.driver.extraClassPath=")
        for a in submit
    ):
        return {}  # they replace the class path get_spark passes as --conf
    classes = _nio_fs_classes()
    if classes is None:
        return {}
    class_path = os.pathsep.join(filter(None, [_defaults_class_path(), classes]))
    return {"spark.driver.extraClassPath": class_path, "spark.hadoop.fs.file.impl": _NIO_FS_CLASS}


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
    # without libhadoop every setPermission forks chmod: about 4 per data
    # file, 4.5 kB of spawn payload each; a 10-row parquet write went from
    # 41 kB to 0.6 kB of JVM writes
    for key, value in _local_fs_conf().items():
        builder = builder.config(key, value)
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

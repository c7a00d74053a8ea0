"""Session settings that hold across the whole suite: the codegen class
cache keeps a working set larger than Spark's default 100 classes, so a
repeated plan reuses its compiled classes instead of recompiling them,
every shuffle writes its map output once, and a local file write sets its
permissions without forking a process."""

import os
import stat
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from sparsity_spark import session
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


def _local_fs(spark):
    sc = spark.sparkContext
    return sc._jvm.org.apache.hadoop.fs.FileSystem.getLocal(sc._jsc.hadoopConfiguration())


def _modes(root) -> dict[str, int]:
    """The permission bits of ``root`` and of every file and directory under it."""
    modes = {}
    for top, dirs, files in os.walk(root):
        for name in [top, *(os.path.join(top, n) for n in dirs + files)]:
            modes[name] = stat.S_IMODE(os.stat(name).st_mode)
    return modes


def test_local_write_forks_no_process(spark, tmp_path):
    # without libhadoop, Hadoop's stock local FileSystem forks chmod for
    # every data file, .crc file and directory, and each spawn writes the
    # JVM's whole environment down a pipe: about 84 kB for this write
    if session._javac() is None:
        pytest.skip("no javac: the session runs Hadoop's stock local FileSystem")
    assert _local_fs(spark).getClass().getName() == "sparsity.NioLocalFileSystem"
    ten = spark.range(10).repartition(4)
    ten.write.parquet(str(tmp_path / "warm"))  # loads the writer's classes
    out = tmp_path / "out"
    wrote = _jvm_wchar(spark)
    ten.write.parquet(str(out))
    wrote = _jvm_wchar(spark) - wrote
    on_disk = sum(os.path.getsize(f) for f in _modes(out) if os.path.isfile(f))
    assert wrote <= 2 * on_disk + 8192, (wrote, on_disk)


def test_local_write_keeps_hadoop_permissions(spark, tmp_path):
    sc = spark.sparkContext
    umask = sc._jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(
        sc._jsc.hadoopConfiguration()
    ).toShort()
    out = tmp_path / "out"
    spark.range(10).repartition(4).write.parquet(str(out))
    modes = _modes(out)
    assert any(f.endswith(".crc") for f in modes)
    for path, mode in modes.items():
        assert mode == (0o777 if os.path.isdir(path) else 0o666) & ~umask, (path, oct(mode))


def test_set_permission_keeps_sticky_and_setgid_bits(spark, tmp_path):
    # the modes of Hadoop's numeric `chmod %04o`: a sticky mode is set whole,
    # a setgid directory keeps its setgid bit, a setgid file loses it
    jvm = spark.sparkContext._jvm
    fs, perm = _local_fs(spark), jvm.org.apache.hadoop.fs.permission.FsPermission
    sticky, setgid, setgid_file = tmp_path / "sticky", tmp_path / "setgid", tmp_path / "f"
    sticky.mkdir()
    setgid.mkdir()
    setgid_file.write_bytes(b"")
    os.chmod(setgid, 0o2755)
    os.chmod(setgid_file, 0o2755)
    for path, mode in [(sticky, "1777"), (setgid, "750"), (setgid_file, "640")]:
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(path)), perm(mode))
    assert stat.S_IMODE(os.stat(sticky).st_mode) == 0o1777
    assert stat.S_IMODE(os.stat(setgid).st_mode) == 0o2750
    assert stat.S_IMODE(os.stat(setgid_file).st_mode) == 0o640


def _launching(monkeypatch, tmp_path):
    """Make ``_local_fs_conf`` plan a JVM launch (no JVM up yet) with no
    class path from PYSPARK_SUBMIT_ARGS or spark-defaults.conf, and the
    class cache under ``tmp_path``."""
    monkeypatch.setattr(session.SparkContext, "_jvm", None)
    for var in ("PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "conf"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))


def test_permission_fs_without_javac_leaves_stock_hadoop(monkeypatch, tmp_path):
    _launching(monkeypatch, tmp_path)
    (tmp_path / "bin").mkdir()
    monkeypatch.setenv("PATH", str(tmp_path / "bin"))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    assert session._nio_fs_classes() is None
    assert session._local_fs_conf() == {}


def test_permission_fs_classes_are_built_once(monkeypatch, tmp_path):
    if session._javac() is None:
        pytest.skip("no javac to build the classes with")
    _launching(monkeypatch, tmp_path)
    classes = session._nio_fs_classes()
    cache = tmp_path / "cache" / "sparsity_spark"
    assert classes is not None and classes.startswith(str(cache))
    assert os.listdir(cache) == [os.path.basename(classes)]
    assert sorted(os.listdir(os.path.join(classes, "sparsity"))) == [
        "NioLocalFileSystem$Raw.class",
        "NioLocalFileSystem.class",
    ]

    def no_compile(*args, **kwargs):
        raise AssertionError("recompiled cached classes")

    monkeypatch.setattr(subprocess, "run", no_compile)
    assert session._nio_fs_classes() == classes
    assert session._local_fs_conf() == {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": "sparsity.NioLocalFileSystem",
    }
    # a class path from spark-defaults.conf is kept, not replaced
    (tmp_path / "conf").mkdir()
    (tmp_path / "conf" / "spark-defaults.conf").write_text(
        "# site jars\nspark.driver.extraClassPath  /srv/site.jar\n"
    )
    assert session._local_fs_conf()["spark.driver.extraClassPath"] == f"/srv/site.jar:{classes}"


@pytest.mark.parametrize(
    "submit_args",
    [
        "--driver-class-path /srv/site.jar pyspark-shell",
        "--conf spark.driver.extraClassPath=/srv/site.jar pyspark-shell",
    ],
)
def test_submit_args_class_path_leaves_stock_hadoop(monkeypatch, tmp_path, submit_args):
    # both replace the class path get_spark passes, so the class would not load
    _launching(monkeypatch, tmp_path)
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", submit_args)
    assert session._local_fs_conf() == {}


def test_running_jvm_names_the_class_only_if_it_loads(spark, monkeypatch):
    # a session started after another stopped reuses that JVM and its class path
    jvm = spark.sparkContext._jvm
    loads = jvm.org.apache.hadoop.conf.Configuration(False).getClassByNameOrNull(
        "sparsity.NioLocalFileSystem"
    ) is not None
    conf = {"spark.hadoop.fs.file.impl": "sparsity.NioLocalFileSystem"} if loads else {}
    assert session._local_fs_conf() == conf
    assert loads == (_local_fs(spark).getClass().getName() == "sparsity.NioLocalFileSystem")
    # a Python app under spark-submit connects to the JVM spark-submit launched
    monkeypatch.setattr(session.SparkContext, "_jvm", None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "0")
    connect = classmethod(lambda cls: setattr(cls, "_jvm", jvm))
    monkeypatch.setattr(session.SparkContext, "_ensure_initialized", connect)
    assert session._local_fs_conf() == conf


_AFTER_PLAIN_SESSION = """
import sys
from pyspark.sql import SparkSession
from sparsity_spark.session import get_spark

plain = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
plain.stop()
spark = get_spark("after_plain_session", cpus=1)
spark.range(10).write.parquet(sys.argv[1])
sc = spark.sparkContext
fs = sc._jvm.org.apache.hadoop.fs.FileSystem.getLocal(sc._jsc.hadoopConfiguration())
print(spark.read.parquet(sys.argv[1]).count(), fs.getClass().getName())
spark.stop()
"""


def test_get_spark_after_a_stopped_plain_session(tmp_path):
    # the plain session launched the JVM without the class on its class
    # path; get_spark reuses that JVM and must leave `file:` to stock Hadoop
    out = subprocess.run(
        [sys.executable, "-c", _AFTER_PLAIN_SESSION, str(tmp_path / "out")],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "SPARK_GRAFT_SCRATCH": str(tmp_path / "scratch")},
    )
    assert out.returncode == 0, out.stderr[-4000:]
    rows, fs = out.stdout.split()[-2:]
    assert rows == "10" and fs != "sparsity.NioLocalFileSystem", out.stdout

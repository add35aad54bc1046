"""SparkSession factory.

Mirrors the reference's static bootstrap (env + feature validation,
``/root/reference/src/main.rs:247-274``, ``src/features.rs:9-35``) as a
single audited session builder: every engine entry point goes through
``get_spark`` so session semantics (UTC, nanos handling, AQE) are uniform.

Scale notes (100 TB design):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast-join demotion/promotion replace any hand-tuned plan choices.
- ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a real cluster set it ~2-3x total cores (or rely on AQE coalescing
  from a high initial value).
- Arrow enabled for the pandas-UDF paths (operators/multimodal, similarity).

Local filesystem: without the native hadoop library, Hadoop's
``RawLocalFileSystem`` forks a ``chmod`` process for every file and
directory a write creates (hundreds per ``run_range`` call).  On a
``local[...]`` master the session's ``file:`` scheme is
``jvm/NioLocalFileSystem.java`` instead: the same checksummed
``LocalFileSystem``, setting the same permission bits with one
``java.nio`` call.  It is compiled once with ``javac`` into a cache
directory and put on the driver class path; without ``javac`` the
session keeps Hadoop's own class and logs a warning.  Cluster masters
keep Hadoop's class too: executors would not have this one, and their
writes go to a remote filesystem anyway.  ``FileContext`` users
(Structured Streaming checkpoints, through ``LocalFs``) still get
Hadoop's raw filesystem.
"""

from __future__ import annotations

import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
from pathlib import Path

import pyspark
from py4j.java_gateway import JavaClass
from pyspark import SparkConf, SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_CONFS"]

_log = logging.getLogger(__name__)

_LOCAL_FS_SOURCE = Path(__file__).with_name("jvm") / "NioLocalFileSystem.java"
LOCAL_FS_CLASS = "etl_rust_spark.jvm.NioLocalFileSystem"

# Session-wide semantics every component relies on.  Keep this the single
# source of truth: the DuckDB oracle runs with TimeZone=UTC, and the
# events table is parquet TIMESTAMP(NANOS) which PySpark only reads via
# nanosAsLong (see FIXTURES.md §3).
DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: vectorized reader + aggregate pushdown where legal.
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Don't let tiny test files explode into thousands of tasks, and don't
    # let one 1 GB file become one task at scale: ~128 MB split targets.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
}


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def _local_fs_classes() -> str | None:
    """Class directory holding the compiled ``NioLocalFileSystem``, or
    None when it is not cached and no ``javac`` compiles it.

    Cached under ``$XDG_CACHE_HOME/etl_rust_spark/<key>``, keyed by the
    source and the Spark version whose jars it compiles against.  It
    is compiled into a temporary directory and renamed into place, so
    concurrent processes never see a half-written one.
    """
    src = _LOCAL_FS_SOURCE.read_bytes()
    key = hashlib.sha256(src + pyspark.__version__.encode()).hexdigest()[:16]
    cache = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache")
    root = cache / "etl_rust_spark"
    out = root / key
    if out.is_dir():
        return str(out)
    javac = shutil.which("javac")
    if javac is None:
        _log.warning(
            "no javac on PATH: local writes keep Hadoop's LocalFileSystem, "
            "which forks a chmod process per file and directory"
        )
        return None
    root.mkdir(parents=True, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".build-", dir=root)
    # The jars the session JVM will run: $SPARK_HOME's, else pyspark's.
    jars = os.path.join(_find_spark_home(), "jars", "*")
    # Spark 4 runs on Java 17+, so 17 bytecode loads in any session JVM.
    built = subprocess.run(
        [javac, "--release", "17", "-cp", jars, "-d", tmp, str(_LOCAL_FS_SOURCE)],
        capture_output=True,
        text=True,
    )
    if built.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        _log.warning("javac failed, local writes keep Hadoop's LocalFileSystem:\n%s", built.stderr)
        return None
    try:
        os.rename(tmp, out)
    except OSError:  # another process renamed its copy first
        shutil.rmtree(tmp, ignore_errors=True)
    return str(out)


def _jvm_has(cls: str) -> bool:
    """False when this process already runs a JVM (a stopped earlier
    session's) that was launched without ``cls`` on its class path."""
    jvm = SparkContext._jvm
    return jvm is None or isinstance(getattr(jvm, cls), JavaClass)


def _session_confs(
    master: str,
    shuffle_partitions: int,
    extra_confs: dict[str, str] | None,
) -> dict[str, str]:
    confs = dict(DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    if extra_confs:
        confs.update(extra_confs)
    local = master == "local" or master.startswith("local[")
    classes = _local_fs_classes() if local else None
    if classes and _jvm_has(LOCAL_FS_CLASS):
        cp = confs.get("spark.driver.extraClassPath")
        confs["spark.driver.extraClassPath"] = classes + (os.pathsep + cp if cp else "")
        confs["spark.hadoop.fs.file.impl"] = LOCAL_FS_CLASS
    return confs


def _launch_master(confs: dict[str, str]) -> str | None:
    """The master spark-submit or ``PYSPARK_SUBMIT_ARGS`` gave the driver
    JVM, or None when it was given none.  Starts that JVM first, with
    ``confs``, when this process has none yet: the launch-time confs
    (driver memory and class path) only take effect then."""
    SparkContext._ensure_initialized(conf=SparkConf().setAll(confs.items()))
    return SparkConf().get("spark.master", None)


def get_spark(
    app_name: str = "etl-rust-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master=None`` takes the master given at launch (spark-submit's
    ``--master``, also through ``PYSPARK_SUBMIT_ARGS``) and falls back
    to ``local[$SPARK_GRAFT_CPUS]`` (all cores if the env var is unset)
    when there is none.  spark-submit reports ``local[*]`` when given no
    master, so an explicit ``--master local[*]`` looks the same: with
    ``SPARK_GRAFT_CPUS`` set it becomes ``local[$SPARK_GRAFT_CPUS]``,
    without it stays ``local[*]``.  The engine confs apply either way.
    A driver JVM this call starts gets the ``NioLocalFileSystem`` class
    directory on its class path before the master is known; on a
    cluster master that directory goes unused.
    """
    cpus = _cpus()
    partitions = shuffle_partitions or cpus
    if master is None:
        # A JVM started here gets a local master's class path, but the
        # filesystem class is only chosen once the master is known.
        launch = _session_confs("local", partitions, extra_confs)
        launch.pop("spark.hadoop.fs.file.impl", None)
        master = _launch_master(launch)
        if master is None or (master == "local[*]" and os.environ.get("SPARK_GRAFT_CPUS")):
            master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = _session_confs(master, partitions, extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may return a pre-existing session: re-assert the runtime
    # confs that matter for correctness (static ones can't change, but all
    # of these are runtime-settable).
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.adaptive.enabled",
    ):
        spark.conf.set(k, confs[k])
    return spark

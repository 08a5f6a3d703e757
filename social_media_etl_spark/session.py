"""SparkSession factory.

Defaults are chosen for correctness-vs-oracle and 100 TB scale-readiness:

- AQE on (runtime coalescing, skew-join splitting, SMJ→BHJ conversion),
- UTC session timezone (oracle comparison: DuckDB timestamps are UTC-naive),
- shuffle partitions sized to local cores (on a real cluster this is
  overridden to ~2-3× total executor cores, or left to AQE's
  ``spark.sql.adaptive.coalescePartitions`` with a high initial value),
- Arrow enabled for any pandas interchange (vectorized UDF path).

DRIVER START-UP FROM A CLASS-DATA ARCHIVE. Most of a cold driver's
start is the JVM parsing and verifying Spark's classes from the jars
(a session took ~10 s to start and answer ``range(1).collect()`` on a
4-vCPU host). When ``get_spark`` launches the gateway itself (no
SparkContext yet and no ``PYSPARK_GATEWAY_PORT``), it starts the driver
JVM from an AppCDS archive of Spark's class path (JEP 310/350), which
maps those classes instead (~5 s on the same host):

- The archive lives at
  ``${XDG_CACHE_HOME:-~/.cache}/social_media_etl_spark/spark-<key>.jsa``.
  The key hashes every input of the driver class path: the conf dir,
  the name, size and mtime of each jar in ``$SPARK_HOME/jars``,
  ``spark.driver.extraClassPath``, ``PYSPARK_SUBMIT_ARGS`` and the
  class-path environment of Spark's launcher, and the Java runtime the
  launcher uses. A changed install gets a new key, so a new archive.
- CDS refuses a non-empty directory on the class path. A default conf
  dir that holds only ``*.template`` files (which Spark never reads) is
  swapped, for the launch only, for an empty dir in the cache; a conf
  dir with any other file launches without an archive.
- The first launch for a key records the archive. Its JVM writes it
  when it exits, which then takes ~15 s longer (the process waits for
  it at exit, at most ``_RECORD_EXIT_WAIT_S``), and the archive takes
  ~170 MB on disk. It is published only if the JVM exited 0 and a JVM
  starts from it; one attempt per key, never retried. A published
  archive is used only while its size is the one recorded at publish,
  because a truncated one crashes the JVM at start.
- Deleting the directory resets all of it. A cache dir that cannot be
  written means a launch exactly as without it.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shlex
import shutil
import subprocess
from dataclasses import dataclass
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_CONF"]


def _default_driver_memory() -> str:
    """Half of physical memory, capped at 16g. In local mode the driver
    JVM is the executor too, so its heap is sized to the machine, not
    to Spark's 1g default; the other half stays with the Python workers
    and whatever else the host runs."""
    try:
        half_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 >> 20
    except (ValueError, OSError):
        return "16g"
    return "16g" if half_mib >= 16 << 10 else f"{half_mib}m"


DEFAULT_CONF: dict[str, str] = {
    # only applies at JVM launch; a pre-existing session keeps its own
    # setting. SPARK_GRAFT_DRIVER_MEM sets it per deployment.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: the engine's cast policy is "invalid → NULL" (the reference
    # would raise in Python; our contract per SURVEY §5.2 is null-tolerant,
    # and try_cast is used where the distinction matters).
    "spark.sql.ansi.enabled": "false",
    "spark.ui.enabled": "false",
}

#: logged at ERROR only: the upsert sink's first read of a state dir
#: that does not exist yet WARNs "Assume no metadata directory" with a
#: full stack trace
_QUIET_LOGGER = "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"

#: environment that Spark's launcher puts on the driver class path
_CLASSPATH_ENV = ("PYSPARK_SUBMIT_ARGS", "SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
#: JVM logs go to stdout, whose last line is a caller's result
_QUIET_CDS = "-Xlog:cds*=off"
#: how long a recording process waits at exit for its JVM to write the archive
_RECORD_EXIT_WAIT_S = 120


@dataclass
class _Recording:
    """The archive this process records: its JVM writes ``tmp`` at exit."""

    tmp: Path
    archive: Path
    marker: Path
    java: str
    class_path: str | None = None  # the JVM's java.class.path, once it runs


@dataclass
class _Launch:
    java_options: str  # appended to spark.driver.defaultJavaOptions
    conf_dir: str | None  # SPARK_CONF_DIR for the launch only
    recording: _Recording | None = None


def _cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / "social_media_etl_spark"


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except FileNotFoundError:
        return []


def _java() -> str | None:
    """The java that bin/spark-class runs: $JAVA_HOME/bin/java, else PATH's."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _archive_key(spark_home: str, conf_dir: str, extra_class_path: str, java: str) -> str:
    h = hashlib.sha256()

    def add(*parts) -> None:
        h.update(("\0".join(map(str, parts)) + "\n").encode())

    add("conf", conf_dir)
    for e in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = e.stat()
        add("jar", e.name, st.st_size, st.st_mtime_ns)
    add("extraClassPath", extra_class_path)
    for var in _CLASSPATH_ENV:
        add(var, os.environ.get(var, ""))
    for f in (java, os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")):
        st = os.stat(f) if os.path.exists(f) else None
        add("java", f, st and st.st_size, st and st.st_mtime_ns)
    return h.hexdigest()[:20]


def _published(archive: Path, marker: Path) -> bool:
    """The archive was published and still has the size it had then."""
    try:
        return int(marker.read_text() or -1) == archive.stat().st_size
    except (OSError, ValueError):
        return False


def _sweep(archive: Path) -> None:
    """Remove temp archives whose recording process is gone (killed
    before it could publish or remove them)."""
    for tmp in archive.parent.glob(f"{archive.name}.*.tmp"):
        pid = tmp.name[len(archive.name) + 1 : -len(".tmp")]
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            tmp.unlink(missing_ok=True)
        except (PermissionError, ValueError):
            pass


def _plan_launch(conf: dict[str, str]) -> _Launch | None:
    """How to launch the driver JVM from the class-data archive, or
    None for a plain launch."""
    try:
        cache = _cache_dir()
        cache.mkdir(parents=True, exist_ok=True)
        spark_home = os.environ.get("SPARK_HOME") or _find_spark_home()
        launch_conf_dir = None
        conf_dir = os.environ.get("SPARK_CONF_DIR")
        if conf_dir is None:
            conf_dir = os.path.join(spark_home, "conf")
            names = _listdir(conf_dir)
            if names and all(n.endswith(".template") for n in names):
                conf_dir = launch_conf_dir = str(cache / "conf")
                os.makedirs(conf_dir, exist_ok=True)
        java = _java()
        if _listdir(conf_dir) or java is None:
            return None
        key = _archive_key(spark_home, conf_dir, conf.get("spark.driver.extraClassPath", ""), java)
        archive = cache / f"spark-{key}.jsa"
        marker = archive.with_suffix(".attempt")
        try:
            os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644))
        except FileExistsError:
            if _published(archive, marker):
                return _Launch(f"-XX:SharedArchiveFile={shlex.quote(str(archive))} {_QUIET_CDS}", launch_conf_dir)
            _sweep(archive)
            return None
        tmp = archive.with_name(f"{archive.name}.{os.getpid()}.tmp")
        return _Launch(
            f"-XX:ArchiveClassesAtExit={shlex.quote(str(tmp))} {_QUIET_CDS}",
            launch_conf_dir,
            _Recording(tmp, archive, marker, java),
        )
    except OSError:
        return None


def _fsync(path: Path) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _publish(rec: _Recording, exit_status: int | None) -> bool:
    """Move the recorded archive to its final name if its JVM exited 0
    and a JVM starts from it; the temp file is gone either way."""
    try:
        if exit_status != 0 or rec.class_path is None or not rec.tmp.is_file():
            return False
        probe = [rec.java, "-Xshare:on", f"-XX:SharedArchiveFile={rec.tmp}", "-cp", rec.class_path, "-version"]
        done = subprocess.run(probe, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=60)
        if done.returncode != 0:
            return False
        _fsync(rec.tmp)
        size = rec.tmp.stat().st_size
        os.replace(rec.tmp, rec.archive)
        _fsync(rec.archive.parent)
        rec.marker.write_text(str(size))
        _fsync(rec.marker)
        return True
    except (OSError, subprocess.SubprocessError):
        return False
    finally:
        rec.tmp.unlink(missing_ok=True)


def _publish_at_exit(rec: _Recording) -> None:
    """Close the gateway if it is still open, wait (bounded) for its JVM
    to write the archive and exit, then publish."""
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        # stop the context first: a JVM that exits under a live context
        # drops the accumulator server's socket mid-read (EOFError on stderr)
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
        try:
            proc.wait(timeout=_RECORD_EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _publish(rec, proc.returncode if proc is not None else None)


def get_spark(
    app_name: str = "social_media_etl_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` and let spark-submit supply the master.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        launch = _plan_launch(conf)
    if launch:
        key = "spark.driver.defaultJavaOptions"
        conf[key] = " ".join(filter(None, [conf.get(key), launch.java_options]))
        if launch.recording:
            atexit.register(_publish_at_exit, launch.recording)
    for k, v in conf.items():
        builder = builder.config(k, v)
    conf_dir = launch and launch.conf_dir
    if conf_dir:
        os.environ["SPARK_CONF_DIR"] = conf_dir  # it was unset
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir:
            os.environ.pop("SPARK_CONF_DIR", None)
    if launch and launch.recording:
        launch.recording.class_path = spark._jvm.System.getProperty("java.class.path")
    spark.sparkContext.setLogLevel("WARN")
    log4j = spark._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(_QUIET_LOGGER, log4j.Level.ERROR)
    return spark

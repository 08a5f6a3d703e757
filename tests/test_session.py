"""session.get_spark: the class-data archive the driver JVM starts from,
and the engine's log levels.

The archive rules are tested on a fake Spark install and Java runtime,
with no JVM; one slow test runs real driver processes against an empty
cache."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from social_media_etl_spark import session

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A fake $SPARK_HOME (three jars, a conf dir of templates), a fake
    Java runtime and an empty cache."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    for name in ("a.jar", "b.jar", "c.jar"):
        (home / "jars" / name).write_bytes(b"x" * 10)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    java_home = tmp_path / "jdk"
    (java_home / "bin").mkdir(parents=True)
    (java_home / "bin" / "java").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return home


def _cache() -> Path:
    return session._cache_dir()


def _key(home: Path) -> str:
    return session._archive_key(str(home), str(home / "conf"), "", session._java())


def test_archive_key_follows_each_jar_size_and_mtime(install):
    jar = install / "jars" / "b.jar"
    before = _key(install)
    assert _key(install) == before
    jar.write_bytes(b"x" * 11)
    grown = _key(install)
    assert grown != before
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert _key(install) not in (before, grown)


def test_conf_dir_with_a_real_file_launches_plain(install):
    (install / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
    assert session._plan_launch({}) is None
    assert "SPARK_CONF_DIR" not in os.environ


def test_template_only_conf_dir_gets_the_empty_cache_conf_dir(install):
    launch = session._plan_launch({})
    conf_dir = Path(launch.conf_dir)
    assert conf_dir == _cache() / "conf"
    assert conf_dir.is_dir() and not any(conf_dir.iterdir())
    assert "SPARK_CONF_DIR" not in os.environ  # set for the launch only


def test_first_launch_records_once(install):
    first = session._plan_launch({})
    rec = first.recording
    assert rec is not None
    assert rec.tmp.name == f"{rec.archive.name}.{os.getpid()}.tmp"
    assert first.java_options == f"-XX:ArchiveClassesAtExit={rec.tmp} -Xlog:cds*=off"
    assert rec.marker.exists()
    # an attempt marker and no archive: nobody records again
    assert session._plan_launch({}) is None


def test_published_archive_is_used_only_at_its_published_size(install):
    rec = session._plan_launch({}).recording
    rec.archive.write_bytes(b"a" * 100)
    rec.marker.write_text("100")
    launch = session._plan_launch({})
    assert launch.recording is None
    assert launch.java_options == f"-XX:SharedArchiveFile={rec.archive} -Xlog:cds*=off"
    rec.archive.write_bytes(b"a" * 60)  # truncated
    assert session._plan_launch({}) is None
    rec.marker.write_text("")  # recorded, never published
    assert session._plan_launch({}) is None


def test_extra_class_path_changes_the_archive(install):
    a = session._plan_launch({}).recording.archive
    b = session._plan_launch({"spark.driver.extraClassPath": "/x.jar"}).recording.archive
    assert a != b


def test_unwritable_cache_launches_plain(install, tmp_path, monkeypatch):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    assert session._plan_launch({}) is None


def test_sweep_removes_temp_archives_of_dead_processes(install):
    rec = session._plan_launch({}).recording
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    orphan = rec.archive.with_name(f"{rec.archive.name}.{dead.pid}.tmp")
    live = rec.archive.with_name(f"{rec.archive.name}.{os.getpid()}.tmp")
    orphan.write_bytes(b"o")
    live.write_bytes(b"l")
    assert session._plan_launch({}) is None
    assert not orphan.exists() and live.exists()


@pytest.mark.parametrize(
    "status, java", [(1, "true"), (None, "true"), (0, "false")], ids=["jvm-exit-1", "no-jvm", "probe-fails"]
)
def test_publish_refuses_and_deletes_the_temp_file(install, status, java):
    rec = session._plan_launch({}).recording
    rec.java = java  # the probe: `true`/`false` exit 0/1
    rec.class_path = "cp"
    rec.tmp.write_bytes(b"a" * 10)
    assert not session._publish(rec, status)
    assert not rec.tmp.exists() and not rec.archive.exists()
    assert session._plan_launch({}) is None


def test_publish_moves_the_archive_and_records_its_size(install):
    rec = session._plan_launch({}).recording
    rec.java = "true"
    rec.class_path = "cp"
    rec.tmp.write_bytes(b"a" * 10)
    assert session._publish(rec, 0)
    assert not rec.tmp.exists()
    assert rec.archive.stat().st_size == 10 and rec.marker.read_text() == "10"
    assert session._plan_launch({}).java_options.startswith("-XX:SharedArchiveFile=")


@pytest.mark.parametrize(
    "phys_gib, want", [(15.7, "8038m"), (4, "2048m"), (32, "16g"), (256, "16g")]
)
def test_default_driver_memory_is_half_the_host_capped_at_16g(monkeypatch, phys_gib, want):
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": int(phys_gib * (1 << 30)) // 4096}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    assert session._default_driver_memory() == want


def test_driver_memory_env_overrides_the_default():
    code = "from social_media_etl_spark.session import DEFAULT_CONF as c; print(c['spark.driver.memory'])"
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    got = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True)
    assert got.stdout.strip() == session._default_driver_memory()
    env["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    got = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True)
    assert got.stdout.strip() == "3g"


def test_file_stream_sink_logs_errors_only(spark):
    logger = spark._jvm.org.apache.logging.log4j.LogManager.getLogger(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"
    )
    assert logger.getLevel().toString() == "ERROR"


_DRIVER = """
import json, sys
sys.path.insert(0, sys.argv[1])
from social_media_etl_spark.session import get_spark
spark = get_spark("archive-test", extra_conf=json.loads(sys.argv[3]))
print("rows", spark.range(3).count())
print(sys.argv[2])
"""


@pytest.mark.slow
def test_driver_records_maps_and_survives_bad_archives(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))

    def driver(sentinel: str, **conf: str) -> list[str]:
        done = subprocess.run(
            [sys.executable, "-c", _DRIVER, str(REPO), sentinel, json.dumps(conf)],
            cwd=tmp_path, capture_output=True, text=True, timeout=600,
        )  # fmt: skip
        assert done.returncode == 0
        assert "Traceback" not in done.stderr
        lines = done.stdout.splitlines()
        assert lines[-2:] == ["rows 3", sentinel]  # nothing of the JVM's after the result
        return lines

    def class_source(log: Path) -> str:
        (line,) = [ln for ln in log.read_text().splitlines() if " org.apache.spark.SparkContext source: " in ln]
        return line.split(" source: ", 1)[1]

    cache = session._cache_dir()
    driver("first-done")
    (archive,) = cache.glob("spark-*.jsa")
    assert int(archive.with_suffix(".attempt").read_text()) == archive.stat().st_size
    assert not list(cache.glob("*.tmp"))

    log = tmp_path / "mapped.log"
    driver("second-done", **{"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"})
    assert class_source(log) == "shared objects file (top)"

    # an archive of another class path, published under this one's name
    jar = tmp_path / "extra.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("extra.txt", "x")
    extra = {"spark.driver.extraClassPath": str(jar)}
    other = session._plan_launch(extra).recording
    shutil.copyfile(archive, other.archive)
    other.marker.write_text(str(archive.stat().st_size))
    log = tmp_path / "mismatched.log"
    driver("third-done", **extra, **{"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"})
    assert class_source(log).startswith("file:")

    data = archive.read_bytes()
    archive.chmod(0o644)
    archive.write_bytes(data[: len(data) // 2])
    driver("fourth-done")
    assert not list(tmp_path.glob("hs_err*"))

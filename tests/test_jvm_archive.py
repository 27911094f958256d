"""Driver-JVM start-up archive (session.plan_archive_launch): the launch
decision is checked without a JVM against a fake JDK and Spark install;
one subprocess test records a real archive and maps it in the next
session."""

import os
import shutil
import struct
import subprocess
import sys

import pytest

from nexmark_vanilla_flink_spark.session import (
    archive_cache_dir,
    is_finished_archive,
    plan_archive_launch,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONFS = {"spark.driver.memory": "8g"}


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A JDK 17 home, a Spark home whose conf dir holds only templates, and
    an empty cache."""
    java = tmp_path / "jdk"
    java.mkdir()
    (java / "release").write_text('JAVA_VERSION="17.0.20"\n')
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    (spark / "conf").mkdir()
    (spark / "conf" / "spark-defaults.conf.template").write_text("")
    for jar in ("spark-core.jar", "janino.jar"):
        (spark / "jars" / jar).write_bytes(b"PK")
    monkeypatch.setenv("JAVA_HOME", str(java))
    monkeypatch.setenv("SPARK_HOME", str(spark))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return spark


def test_records_without_archive_and_maps_with_one(install):
    launch = plan_archive_launch(CONFS)
    assert launch.recording is not None
    assert f"-XX:ArchiveClassesAtExit={launch.recording}" in launch.java_options
    assert "SharedArchiveFile" not in launch.java_options
    assert os.listdir(launch.conf_dir) == []
    with open(launch.archive, "wb") as f:
        f.write(struct.pack("=I", 0xF00BABA8))
    again = plan_archive_launch(CONFS)
    assert again.recording is None
    assert f"-XX:SharedArchiveFile={launch.archive}" in again.java_options
    assert "ArchiveClassesAtExit" not in again.java_options


def test_caller_options_are_kept(install):
    caller = "-Djava.io.tmpdir=/work/tmp -Dderby.system.home=/work/derby"
    launch = plan_archive_launch({**CONFS, "spark.driver.extraJavaOptions": caller})
    assert launch.java_options.startswith(caller + " -XX:")


@pytest.mark.parametrize(
    "flag",
    ["-Xshare:off", "-XX:SharedArchiveFile=/x.jsa", "-XX:ArchiveClassesAtExit=/y.jsa"],
)
def test_caller_cds_flag_switches_ours_off(install, flag):
    confs = {**CONFS, "spark.driver.extraJavaOptions": f"-Dx=1 {flag}"}
    assert plan_archive_launch(confs) is None


def test_real_file_in_conf_dir_switches_off(install, tmp_path, monkeypatch):
    (install / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    assert plan_archive_launch(CONFS) is None
    own = tmp_path / "own-conf"
    own.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(own))
    assert plan_archive_launch(CONFS) is not None
    (own / "log4j2.properties").write_text("")
    assert plan_archive_launch(CONFS) is None


def test_fingerprint_follows_jar_mtime_and_compressed_oops(install):
    base = plan_archive_launch(CONFS).archive
    assert plan_archive_launch({"spark.driver.memory": "31g"}).archive == base
    assert plan_archive_launch({"spark.driver.memory": "32g"}).archive != base
    assert plan_archive_launch({"spark.driver.memory": "48g"}).archive != base
    jar = install / "jars" / "janino.jar"
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert plan_archive_launch(CONFS).archive != base


def test_recording_a_new_fingerprint_removes_the_other_archive(install):
    old = plan_archive_launch(CONFS).archive
    with open(old, "wb") as f:
        f.write(struct.pack("=I", 0xF00BABA8))
    launch = plan_archive_launch({"spark.driver.memory": "48g"})
    assert launch.recording is not None
    assert not os.path.exists(old)
    assert os.path.isdir(launch.conf_dir)


@pytest.mark.parametrize("mode", [0o770, 0o707])
def test_cache_dir_writable_by_others_switches_off(install, mode):
    assert plan_archive_launch(CONFS) is not None
    os.chmod(archive_cache_dir(), mode)
    assert plan_archive_launch(CONFS) is None


def test_only_a_finished_recording_counts(tmp_path):
    # JDK 17 writes the regions first and the header last
    partial = tmp_path / "partial.part"
    partial.write_bytes(b"\0" * 4096)
    done = tmp_path / "done.part"
    done.write_bytes(struct.pack("=I", 0xF00BABA8) + b"\0" * 4092)
    assert not is_finished_archive(str(partial))
    assert is_finished_archive(str(done))
    assert not is_finished_archive(str(tmp_path / "missing"))


_SESSION = """
from nexmark_vanilla_flink_spark.session import get_session
extra = {{"spark.driver.extraJavaOptions": "-Xlog:class+load=info:file={log}"}}
spark = get_session("archive-test", extra_confs=extra if {trace} else None)
spark.range(3).rdd.map(lambda row: row).count()  # a Python job: accumulator server
"""


def test_first_session_records_and_next_session_maps(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    if plan_archive_launch({"spark.driver.memory": "1g"}) is None:
        pytest.skip("this install launches the driver JVM without the archive")
    env = {
        **os.environ,
        "PYTHONPATH": ROOT,
        "SPARK_DRIVER_MEM": "1g",
        "SPARK_GRAFT_CPUS": "2",
    }
    log = tmp_path / "class-load.log"
    try:
        for trace in (False, True):
            code = _SESSION.format(log=log, trace=trace)
            run = subprocess.run(
                [sys.executable, "-c", code],
                env=env,
                capture_output=True,
                text=True,
                timeout=120,
            )
            assert run.returncode == 0 and "Traceback" not in run.stderr, run.stderr
            if not trace:
                names = os.listdir(archive_cache_dir())
                assert [n for n in names if n.endswith(".jsa")], names
                assert not [n for n in names if n.endswith(".part")], names
        loads = [
            line
            for line in log.read_text().splitlines()
            if "org.apache.spark.SparkContext " in line
        ]
        assert loads and "source: shared objects file" in loads[0], loads
    finally:
        shutil.rmtree(archive_cache_dir(), ignore_errors=True)

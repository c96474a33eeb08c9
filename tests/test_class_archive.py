"""The driver JVM's class-data archive: which local sessions write or map
it, and that a session still starts when the archive is unusable."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
from types import SimpleNamespace

import pytest

from approximate_anomaly_detection_in_data_streams_spark import class_archive, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPTS = "spark.driver.defaultJavaOptions"


class FakeBuilder:
    """Records what get_spark configures and the SPARK_CONF_DIR that a
    launched JVM would see."""

    def __init__(self, gateway_owner):
        self.conf = {}
        self.conf_dir_at_launch = None
        self.gateway_owner = gateway_owner

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.conf_dir_at_launch = os.environ.get("SPARK_CONF_DIR")
        self.gateway_owner._gateway = SimpleNamespace(proc="jvm")
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


@pytest.fixture
def launch(tmp_path, monkeypatch):
    """get_spark against a fake builder, a fresh cache and a Spark home
    whose conf directory holds only templates; returns the builder and
    the processes handed to ``Archive.after_launch``."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "SPARK_GRAFT_MASTER", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    context = SimpleNamespace(_gateway=None)
    builder = FakeBuilder(context)
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setattr(session, "SparkContext", context)
    promoted = []
    monkeypatch.setattr(
        class_archive.Archive, "after_launch", lambda self, proc: promoted.append(proc)
    )

    def run(**kwargs):
        session.get_spark(cores=2, **kwargs)
        return builder, promoted

    run.spark_home = spark_home
    return run


def _archive_path(spark_home) -> str:
    return os.path.join(
        class_archive.cache_dir(), "cds", class_archive.digest(str(spark_home)) + ".jsa"
    )


def test_first_session_writes_the_archive(launch):
    builder, promoted = launch()
    part = f"{_archive_path(launch.spark_home)}.{os.getpid()}.part"
    assert builder.conf[OPTS].split() == [
        f"-XX:ArchiveClassesAtExit={part}", class_archive.QUIET
    ]
    conf_dir = os.path.join(class_archive.cache_dir(), "conf")
    assert builder.conf_dir_at_launch == conf_dir and os.listdir(conf_dir) == []
    assert "SPARK_CONF_DIR" not in os.environ
    assert promoted == ["jvm"]


def test_later_sessions_map_the_archive(launch):
    path = _archive_path(launch.spark_home)
    os.makedirs(os.path.dirname(path))
    open(path, "wb").close()
    dead_part = f"{path}.999999999.part"
    open(dead_part, "wb").close()
    builder, _ = launch()
    assert builder.conf[OPTS].split() == [f"-XX:SharedArchiveFile={path}", class_archive.QUIET]
    assert not os.path.exists(dead_part)


@pytest.mark.skipif(not sys.platform.startswith("linux"), reason="reads /proc/<pid>/maps")
def test_an_unmapped_archive_is_deleted(tmp_path):
    """A mapping session whose JVM did not map the archive deletes it; one
    whose maps cannot be read leaves it."""
    path = tmp_path / "x.jsa"
    path.write_bytes(b"not an archive")
    archive = class_archive.Archive("", str(tmp_path), str(path), None)
    archive.after_launch(SimpleNamespace(pid=999_999_999))  # no such /proc entry
    assert path.exists()
    archive.after_launch(SimpleNamespace(pid=os.getpid()))  # maps no archive
    assert not path.exists()


@pytest.mark.parametrize(
    "case", ["conf-dir-set", "conf-file", "master", "spark-submit", "jvm-running"]
)
def test_no_archive_outside_a_plain_local_launch(launch, monkeypatch, tmp_path, case):
    kwargs = {}
    if case == "conf-dir-set":
        monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    elif case == "conf-file":
        (launch.spark_home / "conf" / "spark-defaults.conf").write_text("")
    elif case == "master":
        kwargs["master"] = "local[2]"
    elif case == "spark-submit":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    elif case == "jvm-running":
        session.SparkContext._gateway = SimpleNamespace(proc="jvm")
    builder, promoted = launch(**kwargs)
    assert OPTS not in builder.conf
    assert builder.conf_dir_at_launch == os.environ.get("SPARK_CONF_DIR")
    assert promoted == []


SESSION = textwrap.dedent(
    """
    import sys
    from pyspark import SparkContext
    from approximate_anomaly_detection_in_data_streams_spark.session import get_spark

    spark = get_spark(cores=1, driver_memory="1g")
    assert spark.range(100).selectExpr("sum(id)").first()[0] == 4950
    maps = open(f"/proc/{SparkContext._gateway.proc.pid}/maps").read()
    print("MAPPED" if sys.argv[1] in maps else "UNMAPPED")
    """
)


@pytest.mark.skipif(not sys.platform.startswith("linux"), reason="reads /proc/<pid>/maps")
def test_archive_is_written_once_then_mapped(tmp_path):
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path), PYTHONPATH=REPO)
    env.pop("SPARK_CONF_DIR", None)
    env.pop("SPARK_GRAFT_MASTER", None)
    cds = tmp_path / class_archive.__package__ / "cds"

    def run():
        path = cds / (class_archive.digest(class_archive.spark_home()) + ".jsa")
        out = subprocess.run(
            [sys.executable, "-c", SESSION, str(path)],
            env=env, capture_output=True, text=True, timeout=400,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        assert "[cds" not in out.stdout + out.stderr
        return path, out.stdout.split()[-1]

    try:
        path, _ = run()
        assert sorted(os.listdir(cds)) == [path.name]
        assert run() == (path, "MAPPED")
        path.chmod(0o644)
        path.write_bytes(b"not an archive" * 1000)
        assert run() == (path, "UNMAPPED")
        # the JVM rejected it: the session deleted it, the next one writes
        # a fresh archive, and the one after that maps it
        assert not path.exists()
        assert run() == (path, "UNMAPPED")
        assert sorted(os.listdir(cds)) == [path.name]
        assert run() == (path, "MAPPED")
    finally:
        shutil.rmtree(cds, ignore_errors=True)  # an archive is ~150 MB

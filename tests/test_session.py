"""The settings get_spark starts every session with to cut the driver's
per-operation cost: no per-Column call-site capture, FileSystem-based
streaming checkpoints in local sessions, and ``extra`` above both."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from approximate_anomaly_detection_in_data_streams_spark import session
from tests.test_class_archive import FakeBuilder

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
CHECKSUM = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def test_local_session_reads_back_its_settings(spark):
    assert spark.conf.get(DEBUGGING) == "false"
    assert spark.conf.get(MANAGER) == session.FS_CHECKPOINT_MANAGER
    # checksums detect corrupt state files: left at Spark's own default
    defaults = spark._jvm.org.apache.spark.sql.internal.SQLConf()
    assert spark.conf.get(CHECKSUM) == defaults.getConfString(CHECKSUM)


@pytest.fixture
def configure(monkeypatch):
    """get_spark against a recording builder, in a process whose JVM runs
    (so no class archive is planned); returns the settings a new session
    would start with."""
    for var in ("SPARK_GRAFT_MASTER", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    context = SimpleNamespace(_gateway=SimpleNamespace(proc="jvm"))
    monkeypatch.setattr(session, "SparkContext", context)

    def run(**kwargs):
        builder = FakeBuilder(context)
        monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
        session.get_spark(cores=2, **kwargs)
        return builder.conf

    return run


def test_extra_overrides_both_settings(configure):
    conf = configure()
    assert conf[DEBUGGING] == "false"
    assert conf[MANAGER] == session.FS_CHECKPOINT_MANAGER
    assert CHECKSUM not in conf
    conf = configure(extra={DEBUGGING: "true", MANAGER: FILE_CONTEXT_MANAGER})
    assert conf[DEBUGGING] == "true"
    assert conf[MANAGER] == FILE_CONTEXT_MANAGER


def test_explicit_master_keeps_the_default_checkpoint_manager(configure):
    conf = configure(master="local[2]")
    assert conf[DEBUGGING] == "false"
    assert MANAGER not in conf

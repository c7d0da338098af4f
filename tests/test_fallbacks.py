"""Narrow fallbacks: ``prepare_session`` swallows only a Spark refusal of
an optional conf, and ``_state_partitions`` swallows nothing."""

from __future__ import annotations

import pytest
from pyspark.errors import PySparkAttributeError, PySparkException

from meos_rs_spark.queries.streaming import _state_partitions
from meos_rs_spark.session import RUNTIME_CONFS, prepare_session

_OPTIONAL = "spark.sql.adaptive.enabled"
_REQUIRED = "spark.sql.session.timeZone"


class _Conf:
    def __init__(self, key: str, exc: Exception):
        self.key, self.exc, self.applied = key, exc, {}

    def set(self, key, value):
        if key == self.key:
            raise self.exc
        self.applied[key] = value


class _Session:
    def __init__(self, conf):
        self.conf = conf


def test_prepare_session_degrades_on_a_refused_optional_conf():
    conf = _Conf(_OPTIONAL, PySparkException(message="CANNOT_MODIFY_CONFIG"))
    prepare_session(_Session(conf))
    assert set(conf.applied) == set(RUNTIME_CONFS) - {_OPTIONAL}


def test_prepare_session_raises_on_a_refused_required_conf():
    conf = _Conf(_REQUIRED, PySparkException(message="CANNOT_MODIFY_CONFIG"))
    with pytest.raises(RuntimeError, match=_REQUIRED):
        prepare_session(_Session(conf))


def test_prepare_session_propagates_other_errors():
    with pytest.raises(ValueError, match="not a Spark refusal"):
        prepare_session(_Session(_Conf(_OPTIONAL, ValueError("not a Spark refusal"))))


class _ConnectSession:
    """A Spark Connect session: no JVM handle."""

    @property
    def _jvm(self):
        raise PySparkAttributeError(
            errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED", messageParameters={"attr_name": "_jvm"}
        )


def test_state_partitions_raise_without_a_jvm():
    """A session with no JVM handle (Spark Connect, which the package does
    not support) must not size the source as 0 and floor the state
    partitions silently."""
    with pytest.raises(PySparkAttributeError):
        _state_partitions(_ConnectSession(), "s3://bucket/fixture/events.parquet")


class _BrokenFileSystemSession:
    """A classic session whose Hadoop FileSystem lookup fails."""

    class _jsc:
        @staticmethod
        def hadoopConfiguration():
            return object()

    class _jvm:
        class org:
            class apache:
                class hadoop:
                    class fs:
                        class Path:
                            def __init__(self, p):
                                self.p = p

                            def getFileSystem(self, hconf):
                                raise OSError(f"no FileSystem for {self.p}")


def test_state_partitions_raise_a_file_system_error():
    src = "s3://bucket/fixture/events.parquet"
    with pytest.raises(OSError, match=f"no FileSystem for {src}"):
        _state_partitions(_BrokenFileSystemSession(), src)

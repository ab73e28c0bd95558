"""get_spark's conf assembly, checked without starting a JVM: the
SparkSession builder is replaced by a recorder that returns the conf."""

from __future__ import annotations

import types

from ecom_snowflake_duckdb_migration_spark import session


class _RecordingBuilder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def test_local_dir_override_skips_shm_default(monkeypatch):
    made = []
    monkeypatch.setattr(session.os, "makedirs", lambda p, **kw: made.append(p))
    monkeypatch.setattr(session.os.path, "isdir", lambda p: p == "/dev/shm")

    def conf(**kw):
        monkeypatch.setattr(
            session, "SparkSession",
            types.SimpleNamespace(builder=_RecordingBuilder()),
        )
        return session.get_spark(master="local[2]", **kw)

    # a caller-set local dir: no shm directory is created, the caller's wins
    own = conf(extra_conf={"spark.local.dir": "/data/spark-local"})
    assert made == []
    assert own["spark.local.dir"] == "/data/spark-local"
    # no local dir given: the tmpfs default is created and used
    default = conf()
    assert made == ["/dev/shm/spark-local"]
    assert default["spark.local.dir"] == "/dev/shm/spark-local"
    # every other key is the same either way
    assert {k: v for k, v in own.items() if k != "spark.local.dir"} == {
        k: v for k, v in default.items() if k != "spark.local.dir"
    }

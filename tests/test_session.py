"""session.py: the default core count of ``get_spark`` and the
temp-view cache of ``load_tables``."""

from __future__ import annotations

import os

from xmidt_event_streams_spark import session


class _Builder:
    """Records what get_spark asks of SparkSession.builder."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _conf_of_get_spark(monkeypatch, **kwargs):
    builder = _Builder()
    monkeypatch.setattr(
        session, "SparkSession", type("S", (), {"builder": builder})
    )
    return session.get_spark(**kwargs)


def test_get_spark_defaults_to_the_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cores = len(os.sched_getaffinity(0))
    conf = _conf_of_get_spark(monkeypatch)
    assert conf["master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cores)


def test_get_spark_takes_the_core_count_from_the_environment(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _conf_of_get_spark(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    conf = _conf_of_get_spark(monkeypatch, master="local[2]", shuffle_partitions=5)
    assert conf["master"] == "local[2]"
    assert conf["spark.sql.shuffle.partitions"] == "5"


def test_rewritten_table_under_a_file_url_re_registers_its_view(spark, tmp_path):
    """A ``file://`` table directory is stamped by its real path, so a
    rewrite changes the stamp and the temp view is registered again
    over the new files (stamped as 'missing', the old view would stay
    on the replaced files)."""
    name = "xes_view_stamp_probe"
    path = str(tmp_path / f"{name}.parquet")
    sf_url = f"file://{tmp_path}"

    spark.createDataFrame([(1,), (2,)], "x int").write.parquet(path)
    session.load_tables(spark, sf_url, (name,))
    assert sorted(r.x for r in spark.table(name).collect()) == [1, 2]

    spark.createDataFrame([(7,)], "x int").write.mode("overwrite").parquet(path)
    session.load_tables(spark, sf_url, (name,))
    assert [r.x for r in spark.table(name).collect()] == [7]

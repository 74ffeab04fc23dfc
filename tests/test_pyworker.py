"""The executor daemon's zip-directory cache (xmidt_event_streams_spark.pyworker):
an unchanged archive is not re-read when import caches are invalidated,
a rewritten one is."""

import importlib
import sys
import zipfile
import zipimport

from xmidt_event_streams_spark import pyworker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["xes_zip_a"])
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )  # restored at teardown
    monkeypatch.syspath_prepend(archive)
    for name in ("xes_zip_a", "xes_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("xes_zip_a").NAME == "xes_zip_a"

    pyworker.install()
    reads = []
    real_read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # first sight of the archive may read it
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, ["xes_zip_a", "xes_zip_b"])
    importlib.invalidate_caches()
    assert importlib.import_module("xes_zip_b").NAME == "xes_zip_b"


def test_reused_worker_does_not_reread_archives(spark):
    """pyspark's worker invalidates import caches at every task start;
    under pyspark's own daemon each invalidation re-reads pyspark.zip,
    py4j and the spark-core jar once per importer (16 reads)."""

    def count_reads_on_invalidate(_):
        import importlib
        import zipimport

        reads = []
        real_read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real_read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        yield len(reads)

    assert (
        spark.conf.get("spark.python.daemon.module")
        == "xmidt_event_streams_spark.pyworker"
    )
    rdd = spark.sparkContext.parallelize([0], 1)
    rdd.mapPartitions(count_reads_on_invalidate).collect()
    assert rdd.mapPartitions(count_reads_on_invalidate).collect() == [0]

"""prune_zip_importers: Spark's per-task ``importlib.invalidate_caches()``
must find no zip archive to re-read, and imports must keep working."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from nlquery_spark.operators.extract import prune_zip_importers

PKG = "_nlq_zip_probe"


def _zip_importers():
    return sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )


def test_prune_stops_directory_rereads(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/sub/__init__.py", "")
        z.writestr(f"{PKG}/sub/a.py", "VALUE = 'a'\n")
        z.writestr(f"{PKG}/sub/b.py", "VALUE = 'b'\n")

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    # private copies, restored by monkeypatch, keep the session's import
    # state untouched
    monkeypatch.setattr(sys, "path", [archive] + sys.path)
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module(f"{PKG}.sub.a").VALUE == "a"
        # the archive, the package and the subpackage each got an importer
        assert _zip_importers() >= 3

        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(archive) >= 2

        others = {
            p: f
            for p, f in sys.path_importer_cache.items()
            if not isinstance(f, zipimport.zipimporter)
        }
        prune_zip_importers()
        assert _zip_importers() == 0
        assert sys.path_importer_cache == others
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        # a module not imported yet still loads, from the directory cache
        assert importlib.import_module(f"{PKG}.sub.b").VALUE == "b"
        assert reads == []
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
            del sys.modules[name]
        zipimport._zip_directory_cache.pop(archive, None)


def test_prune_in_spark_worker(spark):
    """Against the worker's real archives: pyspark.zip, the py4j zip and
    the spark-core jar on its PYTHONPATH."""
    module = "pyspark.sql.avro.functions"

    def probe(batches):
        import importlib.util
        import sys
        import zipimport

        for _ in batches:
            pass

        def zip_importers():
            return sum(
                isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values()
            )

        # a failed lookup walks sys.path: one importer per archive on it
        importlib.util.find_spec("_nlq_no_such_module")
        before = zip_importers()
        prune_zip_importers()
        after = zip_importers()
        fresh = module not in sys.modules
        try:
            imported = importlib.import_module(module).__name__ == module
        except ImportError:
            imported = False
        yield pd.DataFrame(
            {
                "before": [before],
                "after": [after],
                "fresh": [fresh],
                "imported": [imported],
            }
        )

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(probe, "before long, after long, fresh boolean, imported boolean")
        .toPandas()
    )
    assert len(rows) == 4
    assert (rows["before"] >= 1).all(), rows
    assert (rows["after"] == 0).all(), rows
    assert rows["fresh"].any(), rows
    assert rows["imported"].all(), rows

import importlib
import sys
import zipfile
import zipimport

from thoth_spark.session import drop_zip_finders


def _zip_finders() -> int:
    return sum(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path):
    """Dropped finders are only a cache: after the drop no zipimporter
    is cached, and after ``importlib.invalidate_caches()`` a second
    module still imports from the same archive."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipmod_a.py", "A = 1\n")
        z.writestr("zipmod_b.py", "B = 2\n")
    sys.path.insert(0, archive)
    try:
        import zipmod_a

        assert zipmod_a.A == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        drop_zip_finders()
        assert _zip_finders() == 0
        importlib.invalidate_caches()
        import zipmod_b

        assert zipmod_b.B == 2
        assert zipmod_b.__spec__.origin.startswith(archive)
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("zipmod_a", None)
        sys.modules.pop("zipmod_b", None)


def test_drop_zip_finders_in_a_python_worker(spark):
    """In a Python worker the helper leaves no zip finder for the next
    task's ``importlib.invalidate_caches()`` to re-read."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        from thoth_spark.session import drop_zip_finders

        drop_zip_finders()
        importlib.invalidate_caches()
        n = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"zip_finders": [n]})

    rows = spark.range(4, numPartitions=2).mapInPandas(probe, "zip_finders int").collect()
    assert [r["zip_finders"] for r in rows] == [0, 0]

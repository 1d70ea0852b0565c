"""The stat-keyed ``zipimporter.invalidate_caches`` the package installs."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import ollama_ocr_spark  # noqa: F401  (installs the replacement)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path,
                                                          monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zc_first").X == 1
        assert isinstance(sys.path_importer_cache[archive],
                          zipimport.zipimporter)
        importlib.invalidate_caches()  # the importer's first re-read

        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        # rewritten in place with one more module: seen on the next call
        _write_zip(archive, {"zc_first": "X = 1\n",
                             "zc_second": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zc_second").Y == 2
        assert reads.count(archive) == 1
    finally:
        sys.path_importer_cache.pop(archive, None)
        for name in ("zc_first", "zc_second"):
            sys.modules.pop(name, None)


def test_engine_task_installs_it_in_the_python_worker(spark):
    """Unpickling an engine kernel imports the package in the worker,
    which replaces the method for that task and every later task the
    reused worker runs. The probe reads the method's module without
    importing anything itself."""
    import pyarrow as pa

    from ollama_ocr_spark.operators.extract import _extract_batches

    def probe(batches):
        import zipimport

        assert _extract_batches is not None  # ships the engine kernel
        method = zipimport.zipimporter.invalidate_caches
        has_zips = any(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "module": [method.__module__] * b.num_rows,
                "has_zips": [has_zips] * b.num_rows,
            })

    rows = (spark.range(4, numPartitions=1)
            .mapInArrow(probe, "module string, has_zips boolean")
            .collect())
    assert rows and all(r["has_zips"] for r in rows)
    want = ("zipimport" if sys.version_info >= (3, 13)
            else "ollama_ocr_spark._zipcache")
    assert {r["module"] for r in rows} == {want}

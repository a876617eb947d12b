"""The Python worker daemon every ``build_session`` worker forks from."""

from __future__ import annotations

import os
import uuid
import zipfile

from coap_rfc_knowledge_graph_spark import _daemon


def test_workers_keep_zip_caches(spark):
    """A task's worker runs the daemon's no-op
    ``zipimporter.invalidate_caches``, not the stock method that re-reads
    every archive on the path."""

    def probe(batches):
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"name": [fn.__qualname__], "file": [fn.__code__.co_filename]})

    rows = spark.range(4).repartition(4).mapInPandas(probe, "name string, file string").distinct().collect()
    assert [(r.name, os.path.realpath(r.file)) for r in rows] == [
        ("_keep_zip_caches", os.path.realpath(_daemon.__file__))
    ]


def test_added_archive_imports_in_a_reused_worker(spark, tmp_path):
    """The no-op never hides an archive: a zip that ``addPyFile`` ships
    mid-session is a new path, read by a fresh ``zipimporter``, so a task
    in an already-running worker imports it."""
    sc = spark.sparkContext
    spark.range(4).repartition(4).mapInPandas(lambda b: b, "id long").count()  # workers up
    name = f"kg_added_{uuid.uuid4().hex}"
    value = uuid.uuid4().hex
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    sc.addPyFile(str(path))

    def load(batches):
        import importlib

        import pandas as pd

        mod = importlib.import_module(name)
        for _ in batches:
            yield pd.DataFrame({"value": [mod.VALUE]})

    rows = spark.range(4).repartition(4).mapInPandas(load, "value string").distinct().collect()
    assert [r.value for r in rows] == [value]

"""The Python worker daemon every ``build_session`` worker forks from."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
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


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver that imports the package through ``sys.path`` alone, run
    from an unrelated cwd with no ``PYTHONPATH``, still starts its Python
    workers, and a ``spark.executorEnv.PYTHONPATH`` the caller passes is
    kept on the workers' path."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "kg_cwd_probe.py").write_text("VALUE = 'probe'\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(_daemon.__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {root!r})
        from coap_rfc_knowledge_graph_spark.session import build_session

        def probe(batches):
            import kg_cwd_probe
            for pdf in batches:
                yield pdf.assign(value=kg_cwd_probe.VALUE)

        spark = build_session(
            app_name="kg-cwd",
            extra_conf={{"spark.executorEnv.PYTHONPATH": {str(extra)!r}}},
        )
        rows = spark.range(3).mapInPandas(probe, "id long, value string").collect()
        print("ROWS", sorted((r.id, r.value) for r in rows))
        print("MASTER", spark.sparkContext.master)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert "ROWS [(0, 'probe'), (1, 'probe'), (2, 'probe')]" in run.stdout, run.stderr[-3000:]
    # cpus defaults to the CPUs the driver may run on
    assert f"MASTER local[{len(os.sched_getaffinity(0))}]" in run.stdout, run.stdout

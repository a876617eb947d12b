"""Python worker daemon: ``pyspark.daemon`` without the per-task zip re-reads.

Each task's ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``; on CPython 3.11 that makes every
``zipimporter`` re-read its archive's central directory (``pyspark.zip``
alone holds ~1,300 entries), in every task of a reused worker too. The
archives on a worker's ``sys.path`` do not change while its daemon lives,
and a zip added later by ``addPyFile`` is a new path that a fresh
``zipimporter`` reads, so only the zipimporter method becomes a no-op;
directory finders are still invalidated.

``session.build_session`` starts workers through this module
(``spark.python.daemon.module``), so the worker's Python must be able to
import the package.
"""

import zipimport

from pyspark import daemon


def _keep_zip_caches(self) -> None:
    """``zipimporter.invalidate_caches`` for archives that never change."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_zip_caches
    daemon.manager()

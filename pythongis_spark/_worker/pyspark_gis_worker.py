"""Python worker module of every session built by ``session.get_spark``.

It serves ``pyspark.worker.main`` unchanged, with one difference: in the
worker process a ``zipimporter`` keeps the archive directory it read when
it was made.

``pyspark.worker.main`` calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``). On CPython 3.11 that makes
each cached ``zipimporter`` re-read its whole archive directory. A worker
holds about 16 of them over ``pyspark.zip`` (1,328 entries) and the py4j
zip, so every task, whatever it does, paid about 0.2 s before running.

The rest of the invalidation still runs: ``FileFinder`` caches are
invalidated, relative and ``None`` path entries are dropped and the
namespace-package epoch is bumped. A zip shipped with ``addPyFile`` is a new
``sys.path`` entry and gets a new importer, so it still imports. The only
behaviour given up is seeing a zip replaced in place under the same path.

The daemon imports this module once, before it forks a worker, so the
replacement is inherited by every worker. ``pyspark/daemon.py`` ignores a
worker module whose name does not start with ``pyspark``, hence the name.
Without the daemon (``spark.python.use.daemon=false``) the module is run as
a script and runs ``pyspark.worker`` as one.
"""

import zipimport


def _keep_directory(self):
    """Keep the archive directory this importer read when it was made."""


zipimport.zipimporter.invalidate_caches = _keep_directory

if __name__ == "__main__":
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__")
else:
    from pyspark.worker import main  # noqa: F401  (the daemon calls it)

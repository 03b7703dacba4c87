"""The Python worker daemon of the engine's sessions
(``spark.python.daemon.module``, set by :func:`session.get_spark`).

It is pyspark's own daemon, with one change: the import-cache
invalidation that pyspark's worker runs before every task skips the
zip archives that were on ``sys.path`` when the daemon started.

pyspark calls ``importlib.invalidate_caches()`` before each task
(``worker_util.setup_spark_files``) so that files added with
``SparkContext.addPyFile`` become importable. On CPython 3.11,
``zipimport.zipimporter.invalidate_caches`` re-reads the whole
central directory of its archive. The workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` and have the Spark core jar on
``sys.path`` too, so each task re-read the directories of about a
dozen importers (110-210 ms per task on a 4-CPU host), and as workers
are reused that was paid on every task. Those archives do not change
while a worker lives. Every other finder is still invalidated: the
SparkFiles directory, and archives added later with ``addPyFile``. On
a Python whose zip importer invalidates lazily (it drops the cached
directory and re-reads it on the next import from that archive), the
skip saves little.

Importing this module changes nothing; :func:`main` installs the skip
in the daemon, and the workers it forks inherit it. The daemon
imports nothing beyond the package's light ``__init__`` and pyspark's
own daemon.
"""

import os
import sys
import zipimport


def main() -> None:
    # a sys.path entry that is a file can only be a zip archive
    fixed = frozenset(p for p in sys.path if os.path.isfile(p))
    invalidate = zipimport.zipimporter.invalidate_caches

    def invalidate_unless_fixed(self) -> None:
        if self.archive not in fixed:
            invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_unless_fixed

    from pyspark import daemon  # noqa: PLC0415

    daemon.manager()


if __name__ == "__main__":
    main()

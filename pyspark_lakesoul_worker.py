"""PySpark worker module with mtime-stamped zip-finder invalidation.

Installed via ``spark.python.worker.module`` (the standard Spark hook
for swapping the worker entrypoint — the daemon only accepts module
names starting with ``pyspark``). Everything delegates to the stock
``pyspark.worker.main``; the one behavioral change is below.

Why: ``pyspark.worker_util.setup_spark_files()`` runs once per TASK and
ends with an unconditional ``importlib.invalidate_caches()``. On
CPython 3.11, ``zipimport.zipimporter.invalidate_caches()`` re-reads
the archive's whole central directory every call, and the worker's
``sys.path`` carries pyspark.zip + py4j.zip with ~18 cached
prefix-finder instances — so EVERY Python task (pandas UDF, mapInArrow,
applyInPandasWithState, ...) re-parses ~3.5 MB of zip directory:
measured 572 ``_read_directory`` calls = 20.4 s of 35.9 s total worker
CPU across 32 stateful tasks (~0.35-0.6 s per task, the dominant cost
of every streaming micro-batch and of small Python-kernel stages).

Fix: stamp each finder with its archive's ``(st_mtime_ns, st_size)``
and skip the re-read while the stamp matches — the same staleness
contract ``importlib``'s directory ``FileFinder`` already uses. A zip
that genuinely changes (or is replaced via ``sc.addPyFile``) re-reads
exactly as before, per finder instance, preserving upstream semantics;
a NEW path entry has no cached finder and is unaffected. The patch is
process-local to the worker/daemon tree — the driver never imports
this module.

The premise (an eager ``_read_directory`` per invalidation) was
profiled on CPython 3.11 only, so the patch installs only on the
interpreters in ``VERIFIED_PYTHONS``; elsewhere the module is the
stock worker. ``tests/test_worker_shim.py`` fails if a verified
interpreter stops re-reading on invalidation.
"""

import os
import sys
import zipimport

import importlib

from pyspark.worker import main as _worker_main

VERIFIED_PYTHONS = ((3, 11),)
ACTIVE = (sys.implementation.name == "cpython"
          and tuple(sys.version_info[:2]) in VERIFIED_PYTHONS)

_orig_invalidate = zipimport.zipimporter.invalidate_caches


def _stamped_invalidate(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None and getattr(self, "_lakesoul_stamp", None) == key:
        return
    _orig_invalidate(self)
    if key is not None:
        self._lakesoul_stamp = key


if ACTIVE and not getattr(zipimport.zipimporter, "_lakesoul_stamped", False):
    zipimport.zipimporter.invalidate_caches = _stamped_invalidate
    zipimport.zipimporter._lakesoul_stamped = True
    # Pre-stamp every finder that already exists: this module is
    # imported once in the DAEMON parent, so forked workers inherit
    # stamped finders and even their first task skips the re-read.
    importlib.invalidate_caches()


def main(infile, outfile):
    return _worker_main(infile, outfile)

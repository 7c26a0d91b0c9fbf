"""The Python-worker zip-invalidation shim (pyspark_lakesoul_worker).

The shim monkeypatches ``zipimport.zipimporter.invalidate_caches`` with
an (mtime_ns, size)-stamped version so pyspark's per-task
``importlib.invalidate_caches()`` stops re-parsing every zip archive's
central directory on every Python task (§9 of OPTIMIZATION_r16.md).

Semantics pinned here, in a SUBPROCESS so the patch never leaks into
the test runner:

- an UNCHANGED archive is not re-read on repeated invalidations (the
  optimization);
- a CHANGED archive is re-read and newly-added modules import (the
  upstream ``sc.addPyFile`` contract the shim must not break);
- the patch installs only on the interpreters the premise was profiled
  on (``VERIFIED_PYTHONS``), and on those the stock
  ``invalidate_caches`` must still re-read the directory — if CPython
  stops doing that, the shim is dead weight and the test says so.
"""

import json
import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = textwrap.dedent(
    """
    import importlib, os, sys, time, zipfile, zipimport

    import pyspark_lakesoul_worker  # installs the stamped invalidate

    if not pyspark_lakesoul_worker.ACTIVE:
        assert not getattr(zipimport.zipimporter, "_lakesoul_stamped", False)
        print("SHIM_INACTIVE")
        sys.exit(0)

    # count actual directory re-reads
    import zipimport as zi
    calls = {"n": 0}
    _orig_read = zi._read_directory
    def counting_read(archive):
        calls["n"] += 1
        return _orig_read(archive)
    zi._read_directory = counting_read

    work = sys.argv[1]
    zpath = os.path.join(work, "mod.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("shimmod_a.py", "VALUE = 1\\n")
    sys.path.insert(0, zpath)
    import shimmod_a
    assert shimmod_a.VALUE == 1

    # a finder now exists; repeated invalidations of an unchanged zip
    # must not re-read its directory
    importlib.invalidate_caches()
    base = calls["n"]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls["n"] == base, (calls["n"], base)

    # change the archive (new member, bump mtime past stamp granularity)
    with zipfile.ZipFile(zpath, "a") as z:
        z.writestr("shimmod_b.py", "VALUE = 2\\n")
    os.utime(zpath, (time.time() + 5, time.time() + 5))
    importlib.invalidate_caches()
    assert calls["n"] > base, (calls["n"], base)
    import shimmod_b  # the addPyFile contract: new content importable
    assert shimmod_b.VALUE == 2
    print("SHIM_OK")
    """
)


def _run(code, *args):
    """stdout of ``code`` run in a fresh interpreter with the repo
    importable."""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    out = subprocess.run([sys.executable, "-c", code, *map(str, args)],
                         capture_output=True, text=True, env=env,
                         timeout=120)
    assert out.returncode == 0, out.stderr
    return out.stdout


def _probe(code, *args):
    return json.loads(_run(code, *args).strip().splitlines()[-1])


def test_shim_stamps_unchanged_and_rereads_changed(tmp_path):
    out = _run(_PROBE, tmp_path)
    if "SHIM_INACTIVE" in out:
        pytest.skip("interpreter outside the shim's VERIFIED_PYTHONS")
    assert "SHIM_OK" in out


_PREMISE_PROBE = textwrap.dedent(
    """
    import json, os, sys, zipfile, zipimport

    zpath = os.path.join(sys.argv[1], "premise.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("premise_mod.py", "VALUE = 1\\n")
    calls = {"n": 0}
    _orig_read = zipimport._read_directory
    def counting_read(archive):
        calls["n"] += 1
        return _orig_read(archive)
    zipimport._read_directory = counting_read
    finder = zipimport.zipimporter(zpath)
    before = calls["n"]
    finder.invalidate_caches()  # the stock method: shim not imported yet
    rereads = calls["n"] > before

    import pyspark_lakesoul_worker as shim
    print(json.dumps({"rereads": rereads, "active": shim.ACTIVE}))
    """
)


def test_stock_invalidate_still_rereads_directory(tmp_path):
    """The shim's premise on every interpreter it patches: the stock
    ``zipimporter.invalidate_caches`` re-reads the archive's central
    directory through ``zipimport._read_directory``."""
    got = _probe(_PREMISE_PROBE, tmp_path)
    if not got["active"]:
        pytest.skip("interpreter outside the shim's VERIFIED_PYTHONS")
    assert got["rereads"], (
        "zipimporter.invalidate_caches() no longer calls "
        "zipimport._read_directory on this CPython: the worker shim "
        "saves nothing here — re-profile it and drop this version from "
        "pyspark_lakesoul_worker.VERIFIED_PYTHONS")


_GATE_PROBE = textwrap.dedent(
    """
    import collections, json, sys, zipimport

    import pyspark.worker  # its imports see the real interpreter

    Version = collections.namedtuple(
        "Version", "major minor micro releaselevel serial")
    sys.version_info = Version(3, 99, 0, "final", 0)  # unverified CPython
    import pyspark_lakesoul_worker as shim
    print(json.dumps({
        "active": shim.ACTIVE,
        "stamped": bool(getattr(zipimport.zipimporter,
                                "_lakesoul_stamped", False)),
        "stock": zipimport.zipimporter.invalidate_caches
        is shim._orig_invalidate,
    }))
    """
)


def test_shim_is_noop_outside_verified_pythons():
    """On an interpreter outside ``VERIFIED_PYTHONS`` importing the
    worker module leaves ``zipimport`` untouched."""
    assert _probe(_GATE_PROBE) == {
        "active": False, "stamped": False, "stock": True}


def test_session_wires_worker_module_conf():
    """lakesoul_session must point spark.python.worker.module at the
    shim (and make it importable for the daemon) whenever the module
    file is present — and honor the LAKESOUL_WORKER_SHIM=0 escape
    hatch without building a session (pure conf assembly)."""
    import inspect

    from lakesoul_spark import session as sess

    src = inspect.getsource(sess.lakesoul_session)
    assert "spark.python.worker.module" in src
    assert "pyspark_lakesoul_worker" in src
    assert "LAKESOUL_WORKER_SHIM" in src
    assert os.path.exists(os.path.join(REPO, "pyspark_lakesoul_worker.py"))


_LIVE_PROBE = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from lakesoul_spark.session import lakesoul_session
    from pyspark.sql import functions as F

    spark = lakesoul_session("shim_probe", master="local[2]",
                             shuffle_partitions=2)
    assert (spark.conf.get("spark.python.worker.module")
            == "pyspark_lakesoul_worker")

    # the UDF returns all-true only when the worker runs the shim
    # module and its patch is installed exactly when the shim's
    # version gate allows it
    @F.pandas_udf("boolean")
    def is_patched(x):
        import sys
        import zipimport
        import pandas as pd
        shim = sys.modules.get("pyspark_lakesoul_worker")
        flag = shim is not None and bool(getattr(
            zipimport.zipimporter, "_lakesoul_stamped", False)) == shim.ACTIVE
        return pd.Series([flag] * len(x))

    n = (spark.range(10).select(is_patched("id").alias("p"))
         .filter("p").count())
    assert n == 10, n
    print("LIVE_SHIM_OK")
    spark.stop()
    """
)


@pytest.mark.slow
def test_shim_active_in_live_session():
    """End-to-end: a pandas-UDF task under lakesoul_session runs with
    the stamped invalidate installed in the worker process.

    Runs in a SUBPROCESS with its own JVM: worker-factory confs
    (spark.python.worker.module, executorEnv) are frozen into the
    SparkContext at creation, so inside the shared-context test suite
    a getOrCreate would silently reuse the conftest's plain session
    and test nothing."""
    out = subprocess.run(
        [sys.executable, "-c", _LIVE_PROBE, REPO],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "LIVE_SHIM_OK" in out.stdout

"""The worker daemon's zip re-read guard.

Every Python task calls ``importlib.invalidate_caches()`` on start, and on
Python 3.11 each ``zipimporter`` then re-parses its archive's directory.
``pydaemon`` makes an importer skip that while its archive is unchanged.
Importing ``pydaemon`` patches ``zipimport`` for the whole process, so the
path checks run in a fresh interpreter.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from .conftest import REPO_ROOT

_SCRIPT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    z = os.path.join(sys.argv[1], "pkgs.zip")
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("zpkg/__init__.py", "")
        f.writestr("zpkg/a.py", "X = 1\\n")
    sys.path.insert(0, z)
    import zpkg.a

    import stellar_etl_airflow_spark.pydaemon  # noqa: F401

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    zipimport._read_directory = counting
    held = [i for i in sys.path_importer_cache.values()
            if isinstance(i, zipimport.zipimporter) and i.archive == z]
    assert len(held) == 2, held  # the archive root and zpkg/
    before = [i._files for i in held]

    importlib.invalidate_caches()
    assert reads == [], reads
    assert all(i._files is b for i, b in zip(held, before))

    with zipfile.ZipFile(z, "a") as f:
        f.writestr("zpkg/b.py", "Y = 2\\n")
    importlib.invalidate_caches()
    assert reads == [z], reads  # one read serves both importers
    import zpkg.b
    assert zpkg.b.Y == 2

    importlib.invalidate_caches()
    assert reads == [z], reads
    print("ok")
    """
)


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path):
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p)}
    done = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path)],
        cwd=REPO_ROOT, env=env, capture_output=True, text=True, timeout=120,
    )
    assert done.returncode == 0 and done.stdout.strip().endswith("ok"), done.stderr[-3000:]


def test_python_task_keeps_pyspark_zip_directory(spark):
    """Inside a task forked from the daemon, ``invalidate_caches()`` leaves
    every ``pyspark.zip`` importer's directory object as it was."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        held = [i for i in sys.path_importer_cache.values()
                if isinstance(i, zipimport.zipimporter) and i.archive.endswith("pyspark.zip")]
        before = [i._files for i in held]
        importlib.invalidate_caches()
        yield len(held), all(i._files is b for i, b in zip(held, before))

    [(n_held, kept)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert n_held > 0  # the worker imports pyspark from the zip
    assert kept

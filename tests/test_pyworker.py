"""What ``proj_spark/_pyworker.py``'s ``install()`` does in every process
that imports the package.  The zip-directory patch: an unchanged
archive is not re-read by ``importlib.invalidate_caches()``, a changed
one is, a missing one still falls through.  The heap freeze: a worker
that PySpark's daemon forked freezes its heap once, the driver never
does, and task garbage is still collected.  Spark's Python workers
have both once they have run a proj_spark task."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import proj_spark  # noqa: F401  (installs the patch)
from proj_spark import _pyworker

zip_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip directories lazily; no patch")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zipmod_pkg/__init__.py", "")
        zf.writestr("zipmod_pkg/inner.py", "V = 0\n")
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"V = {value}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding module ``zipmod_a`` and a package, both
    imported, so two importers (archive root and package) read it; plus
    a counter of directory reads."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zipmod_a": 1})
    names = ("zipmod_a", "zipmod_b", "zipmod_pkg", "zipmod_pkg.inner")
    sys.path.insert(0, path)
    try:
        import zipmod_a  # noqa: F401
        import zipmod_pkg.inner  # noqa: F401

        reads = []
        read = zipimport._read_directory

        def spy(archive_path):
            reads.append(archive_path)
            return read(archive_path)

        monkeypatch.setattr(zipimport, "_read_directory", spy)
        yield path, reads
    finally:
        sys.path.remove(path)
        for name in names:
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(path, None)


@zip_patch
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


@zip_patch
def test_changed_archive_is_reread_once(archive):
    path, reads = archive
    _write_zip(path, {"zipmod_a": 1, "zipmod_b": 2})
    importlib.invalidate_caches()
    # one read for the archive, shared by both of its importers
    assert reads == [path]
    import zipmod_b

    assert zipmod_b.V == 2
    importlib.invalidate_caches()
    assert reads == [path]


@zip_patch
def test_missing_archive_falls_through(archive):
    path, reads = archive
    assert path in _pyworker._SIGNATURES  # saved at the import's read
    os.remove(path)
    importlib.invalidate_caches()  # must not raise
    assert path not in zipimport._zip_directory_cache
    assert path not in _pyworker._SIGNATURES
    assert reads and set(reads) == {path}


@zip_patch
def test_install_is_idempotent():
    patched = zipimport.zipimporter.invalidate_caches
    read = zipimport._read_directory
    _pyworker.install()
    assert patched.__module__ == "proj_spark._pyworker"
    assert zipimport.zipimporter.invalidate_caches is patched
    assert zipimport._read_directory is read


_WORKER_SCRIPT = r'''
import json
import pandas as pd
from pyspark.sql import SparkSession, functions as F
from proj_spark.functions.transform import with_transformed
from proj_spark.operators.joins import pip_join

# one task slot: every task runs in the one reused Python worker
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
pts = spark.range(2000, numPartitions=4).select(
    F.col("id").alias("point_id"),
    (F.rand(1) * 40 - 20).alias("lon"), (F.rand(2) * 40 - 20).alias("lat"))
polys = spark.createDataFrame(pd.DataFrame([{
    "poly_id": "box",
    "rings": [[[-5.0, -5.0], [5.0, -5.0], [5.0, 5.0], [-5.0, 5.0],
               [-5.0, -5.0]]]}]))


def probe(task):
    # pickled by value: the probe body imports no proj_spark module
    # unless ``task`` does
    def _probe(batches):
        import gc
        import zipimport

        state = {"frozen": gc.get_freeze_count(),
                 "active": (zipimport.zipimporter.invalidate_caches.__module__
                            == "proj_spark._pyworker")}
        state.update(task())
        for pdf in batches:
            yield pdf.assign(state=json.dumps(state))

    rows = spark.range(4, numPartitions=4).mapInPandas(
        _probe, "id long, state string").collect()
    return [json.loads(r["state"]) for r in rows]


def nothing():
    return {}


def install_again():
    import gc

    from proj_spark import _pyworker

    before = gc.get_freeze_count()
    _pyworker.install()
    return {"refrozen": gc.get_freeze_count() - before}


def make_cycle():
    # a cycle with a finalizer, garbage when the task ends; only the
    # daemon's collect after the task can free it
    import os
    import weakref

    class Node:
        pass

    node = Node()
    node.self = node
    os.environ.pop("PROBE_CYCLE_FREED", None)
    weakref.finalize(node, os.environ.__setitem__, "PROBE_CYCLE_FREED", "1")
    return {}


def cycle_freed():
    import os

    return {"freed": os.environ.get("PROBE_CYCLE_FREED") == "1"}


before = probe(nothing)
# pip_join first: nothing else has imported proj_spark in the worker
hits = pip_join(pts, polys).count()
after_pip = probe(nothing)
# a sum, not a count: Catalyst prunes a UDF whose output nobody reads
with_transformed(pts, "EPSG:4326", "EPSG:3857").agg(F.sum("x")).collect()
after_transform = probe(install_again)
probe(make_cycle)
next_task = probe(cycle_freed)
print("RESULT " + json.dumps({
    "hits": hits, "before": before, "after_pip": after_pip,
    "after_transform": after_transform, "next_task": next_task}))
spark.stop()
'''


def _run_script(script, tmp_path):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    r = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path),
                       env=env, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")]
    assert line, r.stdout[-2000:]
    return json.loads(line[0][len("RESULT "):])


def test_spark_workers_have_the_patch(tmp_path):
    # a fresh Spark session, so no earlier test's worker answers the
    # probe
    res = _run_script(_WORKER_SCRIPT, tmp_path)
    assert res["hits"] > 0
    patched = sys.version_info < (3, 13)
    # a worker that has not imported proj_spark has neither the patch
    # nor a freeze
    assert [(t["active"], t["frozen"]) for t in res["before"]] == [(False, 0)] * 4
    for key in ("after_pip", "after_transform", "next_task"):
        tasks = res[key]
        assert [t["active"] for t in tasks] == [patched] * 4, key
        assert all(t["frozen"] > 0 for t in tasks), key
    # a second install() freezes nothing new
    assert all(t["refrozen"] <= 0 for t in res["after_transform"])
    # a cycle made in one task is collected after it, so the next task
    # in the same worker sees its finalizer ran
    assert [t["freed"] for t in res["next_task"]] == [True] * 4


def test_import_outside_a_worker_freezes_nothing(tmp_path):
    # a plain import (here and in any driver or test process) is not a
    # daemon-forked worker
    res = _run_script("import gc, json, proj_spark\n"
                      "print('RESULT ' + json.dumps(gc.get_freeze_count()))",
                      tmp_path)
    assert res == 0
    import gc

    assert gc.get_freeze_count() == 0

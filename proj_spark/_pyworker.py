"""Per-task fixed costs of a reused PySpark Python worker.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``setup_spark_files`` in
``pyspark/worker_util.py``).  Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` answers by re-reading the
archive's whole central directory, once per importer instance.
``pyspark.zip`` (3.5 MB) has one importer per imported subpackage, 16
in a worker that has run an Arrow UDF, so each task pays about 0.24 s
of CPU before it sees a row, however few rows it gets.  CPython 3.13
made the re-read lazy.

:func:`install` makes the re-read conditional.  Each read of an
archive's directory saves the archive's ``(st_ino, st_size,
st_mtime_ns, st_ctime_ns)``.  ``invalidate_caches()`` re-reads only
when that signature has changed; otherwise the importer is pointed at
the directory already held in ``zipimport._zip_directory_cache``.  A
changed archive is still re-read at the next ``invalidate_caches()``,
and a missing or unreadable one goes through the original method, so
what imports see does not change.

The second fixed cost comes after the task.  PySpark's daemon runs a
full ``gc.collect()`` in a reused worker after every task (the
``reuse`` branch of ``manager()`` in ``pyspark/daemon.py``).  In a
worker that has imported proj_spark, numpy, pyarrow and pandas that
collect walks some 75k tracked objects, 9-13 ms of CPU on a 4-core
host however few rows the task had.  In a worker that the daemon
forked (its ``__main__`` is ``pyspark.daemon``) :func:`install` first
calls ``gc.freeze()``, once per process: what the worker holds by then
moves to the permanent generation, and the collect after each task
scans only what the worker allocated after the freeze.  Garbage a task
leaves is still collected.  The driver, tests and any other process
that imports the package never freeze.

``proj_spark/__init__.py`` installs both, so they are in place in every
worker that has imported the package.  A UDF body that cloudpickle
ships by value imports the package when it names a module-level
proj_spark function, which cloudpickle pickles by reference.

Every Python stage outside ``streaming/`` (whose stateful stages
have no Arrow form) is an ``arrow_udf`` or ``mapInArrow`` that reads
its batches (the column's own buffers) through the reader here:
:func:`_floats` (float64, NaN for null) and :func:`_coords` (a
``list<list<list<double>>>`` column as flat x/y plus part and
geometry offsets, so no body walks per-point Python objects); payload
bodies in ``sources/`` take ``batch.column(c).to_pylist()``.
:func:`_nested` and :func:`_doubles` write numeric output (NaN as
null), :func:`_rows` and :func:`_columns` write a ``mapInArrow``
batch in the :func:`_schema` of its DDL.  Naming them imports the
package, and with it this patch, in every worker.  ``pyarrow`` loads
on first use, not on ``import proj_spark``.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport
from typing import NamedTuple

import numpy as np

# archive path -> stat signature taken just before its last directory read
_SIGNATURES: dict = {}


def _signature(archive: str):
    try:
        st = os.stat(archive)
    except (OSError, ValueError):
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def _in_daemon_worker() -> bool:
    """True in a worker that PySpark's daemon forked: the daemon runs as
    ``python -m pyspark.daemon`` (its ``__main__``), or was imported."""
    spec = getattr(sys.modules.get("__main__"), "__spec__", None)
    return getattr(spec, "name", None) == "pyspark.daemon" \
        or "pyspark.daemon" in sys.modules


def install() -> None:
    """Freeze the heap of a daemon-forked worker, then patch
    ``zipimport``; each once per process.  The patch is a no-op on
    Python >= 3.13 or without the private directory cache."""
    if not gc.get_freeze_count() and _in_daemon_worker():
        gc.freeze()
    if sys.version_info >= (3, 13):
        return
    cache = getattr(zipimport, "_zip_directory_cache", None)
    read_directory = getattr(zipimport, "_read_directory", None)
    if not isinstance(cache, dict) or read_directory is None:
        return
    invalidate = zipimport.zipimporter.invalidate_caches
    if invalidate.__module__ == __name__:
        return

    def _read_directory(archive):
        # stat BEFORE reading: a change racing the read leaves an old
        # signature next to a newer directory, which only costs a re-read
        sig = _signature(archive)
        files = read_directory(archive)
        if sig is None:
            _SIGNATURES.pop(archive, None)
        else:
            _SIGNATURES[archive] = sig
        return files

    def invalidate_caches(self):
        sig = _signature(self.archive)
        files = cache.get(self.archive)
        if sig is not None and files is not None \
                and _SIGNATURES.get(self.archive) == sig:
            self._files = files
            return
        _SIGNATURES.pop(self.archive, None)
        invalidate(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# -- the Arrow reader and writer of every Python stage ---------------------
class Coords(NamedTuple):
    """Every point of a batch of nested coordinate lists.  Part ``i``
    holds points ``part_off[i]:part_off[i + 1]`` and geometry ``g``
    parts ``geom_off[g]:geom_off[g + 1]``; a null list counts as
    empty."""

    x: np.ndarray
    y: np.ndarray
    part_off: np.ndarray
    geom_off: np.ndarray


def _floats(arr) -> np.ndarray:
    """A numeric Arrow column as float64 numpy, NaN where null.  A
    float64 column without nulls comes back zero-copy and read-only."""
    import pyarrow as pa

    if arr.type != pa.float64():
        arr = arr.cast(pa.float64(), safe=False)
    return arr.to_numpy(zero_copy_only=False)


def _level(arr):
    """One list level: int64 offsets from 0 into the flattened child,
    with a null list as an empty one (whatever its slot spans)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not len(arr):
        # the JVM may send an empty list array without its one offset,
        # which pyarrow's flatten reads (a segfault)
        return np.zeros(1, dtype=np.int64), pa.array([], arr.type.value_type)
    lens = pc.fill_null(pc.list_value_length(arr), 0)
    return _offsets(lens.to_numpy(zero_copy_only=False)), pc.list_flatten(arr)


def _coords(parts) -> Coords:
    """Flat ``x``/``y`` of a ``list<list<list<double>>>`` column (a
    point is ``[x, y]`` or ``[x, y, z]``; z is not read) plus its
    offsets; a null coordinate reads NaN."""
    geom_off, rings = _level(parts)
    part_off, points = _level(rings)
    point_off, values = _level(points)
    start = point_off[:-1]
    if len(start) and np.diff(point_off).min() < 2:
        raise ValueError("every point needs an x and a y coordinate")
    v = _floats(values)
    return Coords(v[start], v[start + 1], part_off, geom_off)


def _offsets(lens) -> np.ndarray:
    """The int64 offsets ``0, lens[0], lens[0] + lens[1], ...`` of runs
    of lengths ``lens``."""
    return np.concatenate([[0], np.cumsum(lens, dtype=np.int64)])


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """The indices ``starts[i] .. starts[i] + lens[i] - 1`` for every
    i, concatenated: the rows an offsets run selects."""
    return np.repeat(starts - np.cumsum(lens) + lens, lens) \
        + np.arange(lens.sum())


def _doubles(v):
    """A float64 Arrow column of ``v``, NaN as null."""
    import pyarrow as pa

    return pa.array(np.asarray(v, dtype=np.float64), from_pandas=True)


def _nested(x, y, part_off, geom_off, valid=None):
    """The ``list<list<list<double>>>`` column of the 2D points
    ``(x, y)`` grouped by :class:`Coords` offsets, NaN as null; rows
    where ``valid`` is False are null."""
    import pyarrow as pa

    n = len(x)
    xy = np.empty(2 * n, dtype=np.float64)
    xy[0::2] = x
    xy[1::2] = y
    points = pa.ListArray.from_arrays(
        pa.array(np.arange(0, 2 * n + 1, 2, dtype=np.int32)), _doubles(xy))
    parts = pa.ListArray.from_arrays(
        pa.array(part_off.astype(np.int32)), points)
    mask = None if valid is None else pa.array(~np.asarray(valid))
    return pa.ListArray.from_arrays(
        pa.array(geom_off.astype(np.int32)), parts, mask=mask)


def _fields(struct) -> dict:
    """A struct column's fields by name, each null where the struct
    is."""
    return dict(zip([f.name for f in struct.type], struct.flatten()))


def _schema(ddl: str):
    """The Spark ``StructType`` of a DDL string and its Arrow schema.
    The DDL parser is the JVM's: call this on the driver, give the
    struct to ``mapInArrow`` (a DDL string there is parsed again) and
    ship the Arrow schema to the body."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(ddl)
    return struct, to_arrow_schema(struct)


def _columns(cols, schema):
    """One ``RecordBatch`` of ``schema`` from one list, numpy or Arrow
    array per field, each converted (Arrow: cast) to its field's
    type."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array(col, field.type) for col, field in zip(cols, schema)],
        schema=schema)


def _rows(rows, schema):
    """One ``RecordBatch`` of ``schema`` from a list of row tuples."""
    return _columns(list(zip(*rows)) or [()] * len(schema), schema)

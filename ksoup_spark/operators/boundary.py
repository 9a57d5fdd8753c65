"""The Spark <-> Python boundary every kernel runs behind.

Two entry points, one per Spark shape:

* ``map_docs`` — a ``mapInArrow`` operator that emits rows;
* ``column_fn`` — a scalar column function on ``F.arrow_udf``.

Both own the same three steps, so a call site keeps only its per-document
logic (parse, select, text, serialize):

1. decode each Arrow input column to Python values, reading NULL as the
   type's empty value ("" / b"" / []), so a NULL document and an empty one
   give the same output;
2. call the per-document function once per row;
3. encode its results as one Arrow array per output column per batch, with
   the Arrow types derived from the Spark schema (``to_arrow_schema``), so
   the Spark schemas are the only type definitions.

No per-row Python runs outside that loop: Spark hands over Arrow record
batches (bounded by spark.sql.execution.arrow.maxRecordsPerBatch) and takes
Arrow record batches back.

The boundary also owns one per-task cost of the Python worker itself. Before
every task, pyspark's worker calls ``importlib.invalidate_caches()``, and on
CPython before 3.13 each ``zipimporter`` then re-parses its archive's whole
directory: 14 importers over ``pyspark.zip`` (1,328 entries) and the py4j zip,
about 190 ms of CPU per task (CPython 3.11, pyspark 4.1.2, a 4-vCPU x86
host). So the first thing each worker-side loop does is
``_guard_zip_refresh()``: from then on a worker re-reads an archive only when
its stat stamp changed. A rewritten or new archive (a ``--py-files`` zip) is
still re-read; only the unchanged ones stop being re-parsed on every task.
"""

from __future__ import annotations

import os
import zipimport
from collections.abc import Callable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import DataType, StructType


# archive path -> (st_mtime_ns, st_size, st_ino), taken just before the
# directory now in zipimport._zip_directory_cache was read; process-wide,
# like that cache
_STAMPS: dict[str, tuple[int, int, int]] = {}
_REREAD = zipimport.zipimporter.invalidate_caches


def _stamped_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that does the stdlib's full re-read
    only when the archive's stamp changed since its last read (or ``stat``
    fails); otherwise the importer takes the cached directory."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    _REREAD(self)
    if stamp is None:
        _STAMPS.pop(self.archive, None)
    else:
        _STAMPS[self.archive] = stamp


def _guard_zip_refresh() -> None:
    """Install ``_stamped_invalidate`` in this (worker) process, once.

    Installs nothing where the stdlib already refreshes lazily (CPython
    3.13's ``zipimporter._get_files``)."""
    zi = zipimport.zipimporter
    if hasattr(zi, "_get_files") or zi.invalidate_caches is _stamped_invalidate:
        return
    zi.invalidate_caches = _stamped_invalidate


def _empty(t: pa.DataType):
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return ""
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return b""
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return []
    return None


def _values(col: pa.Array) -> list:
    """``col`` as Python values, NULL read as the type's empty value."""
    empty = _empty(col.type)
    if col.null_count and empty is not None:
        col = pc.fill_null(col, pa.scalar(empty, type=col.type))
    return col.to_pylist()


def map_docs(df: DataFrame, schema: StructType, fn: Callable,
             explode: bool = False) -> DataFrame:
    """Run ``fn`` once per row of ``df`` and return rows of ``schema``.

    The first column of ``df`` and the first field of ``schema`` are the key
    (doc_id / media_id); ``fn`` receives the decoded values of the other
    input columns, in order, and produces the other output fields:

    * ``explode=False``: one output row per input row, and the key column
      passes through unchanged. ``fn`` returns the output value, or a tuple
      of them when ``schema`` has more than one non-key field.
    * ``explode=True``: n >= 0 output rows per input row, the key repeated
      n times. ``fn`` returns one length-n sequence per non-key field
      (column chunks, in schema order).
    """
    arrow = to_arrow_schema(schema)
    names = arrow.names
    types = arrow.types[1:]

    def encode(keys: pa.Array, cols: list) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [keys] + [pa.array(c, type=t) for c, t in zip(cols, types)],
            names=names)

    def per_doc(batch: pa.RecordBatch) -> Iterator:
        return map(fn, *map(_values, batch.columns[1:]))

    def rows(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _guard_zip_refresh()
        for batch in batches:
            out = list(per_doc(batch))
            if len(types) > 1:
                out = list(zip(*out)) or [[] for _ in types]
            else:
                out = [out]
            yield encode(batch.column(0), out)

    def exploded(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _guard_zip_refresh()
        for batch in batches:
            take: list[int] = []
            cols: list[list] = [[] for _ in types]
            for i, chunk in enumerate(per_doc(batch)):
                take.extend([i] * len(chunk[0]))
                for col, part in zip(cols, chunk):
                    col.extend(part)
            keys = batch.column(0).take(pa.array(take, type=pa.int64()))
            yield encode(keys, cols)

    return df.mapInArrow(exploded if explode else rows, schema)


def column_fn(return_type: DataType, fn: Callable) -> Callable[..., Column]:
    """A column function that runs ``fn`` once per value of its input
    column and returns ``return_type`` (dict values for a struct type)."""
    arrow_type = to_arrow_type(return_type)

    def batch(values: pa.Array) -> pa.Array:
        _guard_zip_refresh()
        return pa.array(list(map(fn, _values(values))), type=arrow_type)

    return F.arrow_udf(batch, return_type)

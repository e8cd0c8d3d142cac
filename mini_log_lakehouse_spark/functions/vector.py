"""Vector math over ``array<float>`` embedding columns — built-in
higher-order functions (zip_with / aggregate), computed in double.

Sequential left-fold over array elements is deterministic and matches
DuckDB's list_* functions element order, so cosine similarities are
bit-comparable across engines (after a defensive round).

The same math also runs vectorized in numpy through ``vector_map``
(kernels in operators/similarity.py): batch-matrix products beat
per-row folds when k × dim gets large. ``as_matrix`` is the one reader
of the Arrow list layout.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _as_double(col) -> Column:
    return col.cast("array<double>")


def dot(a, b) -> Column:
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    """Cosine similarity with DuckDB's zero-norm semantics: DuckDB's
    ``list_cosine_similarity`` returns **-1.0** when either vector has
    zero norm (measured, and pinned in tests/test_adversarial_corpora.py)
    — a direction-less embedding ranks "farthest from everything".
    Mirrored here with an explicit branch so ANSI mode never raises
    DIVIDE_BY_ZERO on a zero vector and both engines rank such rows
    identically (last, ties broken by id in every consumer's ORDER BY).
    """
    denom = norm(a) * norm(b)
    return F.when(denom == F.lit(0.0), F.lit(-1.0)).otherwise(dot(a, b) / denom)


def as_matrix(col) -> np.ndarray:
    """The ``(n, d)`` float64 matrix of a list Arrow column (Array or
    ChunkedArray). Raises ValueError on a NULL vector or on vectors of
    unequal length: ``flatten`` skips NULL rows, so a reshape would
    spread the remaining values over every row without an error."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    if col.null_count:
        raise ValueError(f"as_matrix: {col.null_count} of {n} vectors are NULL")
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    d = int(lens[0]) if n else 0
    ragged = int((lens != d).sum())
    if ragged:
        raise ValueError(
            f"as_matrix: {ragged} of {n} vectors differ in length from the first ({d})"
        )
    return col.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(n, d)


def _arrow_column(values, dtype: pa.DataType) -> pa.Array:
    """A 1-D numpy column as ``dtype``; a 2-D one as a list column."""
    values = np.asarray(values)
    if values.ndim == 2:
        flat = pa.array(values.reshape(-1), dtype.value_type)
        return pa.FixedSizeListArray.from_arrays(flat, values.shape[1]).cast(dtype)
    return pa.array(values, dtype)


def vector_map(df: DataFrame, vec_col: str, kernel, payload, schema) -> DataFrame:
    """Rows of ``kernel(payload, batch, as_matrix(batch[vec_col]))`` over
    the Arrow batches of ``df``, in one map-only ``mapInArrow`` pass.

    ``kernel`` is a module-level function returning ``{column: numpy
    values}`` for some columns of ``schema`` (a StructType or DDL
    string): 1-D per scalar column, 2-D per array column. Every column
    of ``schema`` the kernel does not return passes through from the
    input batch by name, so a kernel that appends columns returns only
    those and one that emits new rows returns them all. Empty input
    batches are skipped and empty results emit no batch."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    fields = list(to_arrow_schema(schema))

    def run(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = kernel(payload, batch, as_matrix(batch.column(vec_col)))
            arrays = [
                _arrow_column(cols[f.name], f.type) if f.name in cols else batch.column(f.name)
                for f in fields
            ]
            if len(arrays[0]):
                yield pa.RecordBatch.from_arrays(arrays, names=[f.name for f in fields])

    return df.mapInArrow(run, schema)

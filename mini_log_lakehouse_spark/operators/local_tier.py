"""Driver-local tier primitive shared by the dedup and graph operators.

An operator that is fast on small inputs keeps a local tier beside its
distributed one: pull the input to the driver once, build a numpy
payload, and map index strips through a kernel. Both tiers produce the
same rows; the local tier runs only when ``bounded_pull`` fits the input
under its cap.

Where the kernel runs depends on its index range. When the whole range
fits one strip (``n <= strip_rows(row_bytes)``, so the strip's live
temporaries fit LOCAL_STRIP_BYTES, the budget one worker task keeps), the
kernel runs once on the driver, where the payload already lives. A
Python worker task costs 0.13-0.24 s of fixed set-up on 4 cores under
Python 3.11 (``importlib.invalidate_caches`` re-reads every zip importer
on the worker's path, see SCALING.md), against milliseconds of kernel
work at that size. Larger ranges broadcast the payload once and stream
their strips out of ``mapInArrow`` tasks.

The caps are module attributes read at call time
(``local_tier.LOCAL_MAX_ROWS``), so setting one to ``-1`` or ``0``
forces the distributed tier.
"""

from __future__ import annotations

#: Rows one bounded pull may bring to the driver: 4 M rows of two int64
#: columns is 64 MB of Arrow, the size of a broadcast small side.
LOCAL_MAX_ROWS = 4_000_000

#: Cells of one payload matrix or one in-task embedding block: 64 M
#: float32 cells is a 256 MB broadcast.
LOCAL_MAX_CELLS = 64_000_000

#: Bytes of live numpy temporaries (inputs gathered for the strip, the
#: products, masks and the rows emitted) one kernel call may hold.
LOCAL_STRIP_BYTES = 256 * 1024 * 1024

#: Nodes of a dense V×V float32 adjacency payload (4096² × 4 B = 64 MB).
DENSE_MAX_NODES = 4096

#: One broadcast per operator name; the next call of that operator
#: releases it.
_SLOTS: dict[str, object] = {}


def bounded_pull(df, max_rows: int):
    """``df`` as a pyarrow Table, or None when it holds more than
    ``max_rows`` rows. One ``limit(max_rows + 1)`` job decides and pulls
    at once, where a ``count()`` probe would plan and run the input
    twice."""
    tbl = df.limit(max_rows + 1).toArrow()
    return None if tbl.num_rows > max_rows else tbl


def strip_rows(row_bytes: int) -> int:
    """Index rows per kernel call so that a strip whose temporaries
    cost ``row_bytes`` per row stays within LOCAL_STRIP_BYTES."""
    return max(1, LOCAL_STRIP_BYTES // max(1, row_bytes))


def block_map(spark, op: str, kernel, payload, n: int, schema: str, row_bytes: int):
    """Rows of ``kernel(payload, idx)`` over the index range [0, n).

    ``kernel`` is a module-level function returning one numpy array per
    column of ``schema`` (a DDL string). Strips are
    ``strip_rows(row_bytes)`` rows.

    - **Driver** (``n`` fits one strip): one ``kernel(payload,
      np.arange(n))`` call here, returned as a local Arrow frame; no
      broadcast, no ``spark.range`` frame, no Python task.
    - **Workers** (several strips, whose output can outgrow one strip):
      ``payload`` is broadcast once into the slot of ``op`` and each
      ``mapInArrow`` task cuts its index range into strips; empty
      results emit no batch. The previous call's broadcast in that slot
      is unpersisted, not destroyed: a frame built by that call may
      still run (a memoized result, a caller collecting it again) and
      then re-fetches the value from the driver. The frame is a lazy
      local checkpoint, so the first action runs the kernels once and a
      final sort's range sampler reads the checkpoint instead of
      running them again."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from mini_log_lakehouse_spark.session import default_parallelism

    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))
    step = strip_rows(row_bytes)

    def batch(cols):
        return pa.RecordBatch.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )

    if n <= step:
        import numpy as np

        rows = pa.Table.from_batches([batch(kernel(payload, np.arange(n)))])
        return spark.createDataFrame(rows, schema)

    prior = _SLOTS.pop(op, None)
    if prior is not None:
        try:
            prior.unpersist()
        except Exception:
            pass  # the owning context may already be stopped
    bc = _SLOTS[op] = spark.sparkContext.broadcast(payload)

    def run(batches):
        value = bc.value
        for rb in batches:
            idx = rb.column(0).to_numpy()
            for lo in range(0, len(idx), step):
                cols = kernel(value, idx[lo : lo + step])
                if len(cols[0]):
                    yield batch(cols)

    parts = max(1, min(default_parallelism(), n))
    return (
        spark.range(0, n, 1, parts)
        .mapInArrow(run, schema)
        .localCheckpoint(eager=False)
    )

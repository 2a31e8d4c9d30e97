"""The one id-carrying Arrow map behind every per-row batch operator.

The text gram passes, LSH banding, SRP bucket keys, IVF assignment and
the multimodal decoders all have the same shape: a NumPy kernel turns
one Arrow batch of (id, inputs) into output columns, and each output
row belongs to one input row.  :func:`id_map` is that shape's only
``mapInArrow``: it projects the inputs, skips empty batches, and leads
every output batch with the id column in the id's own Spark type, so a
kernel never handles, types or re-aligns ids.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql.types import DataType


def id_map(df: DataFrame, id_col: str | None, cols: list[str | Column],
           out_fields: list[tuple[str, str | DataType]],
           kernel: Callable[[pa.RecordBatch],
                            tuple[np.ndarray | None, list[pa.Array]]]
           ) -> DataFrame:
    """Run ``kernel`` over every non-empty Arrow batch of
    ``df.select(id_col, *cols)``.

    ``kernel(batch)`` returns ``(rows, arrays)``: ``arrays`` are the
    columns of ``out_fields`` (name, DDL string or Spark type) and
    ``rows`` the input row of every output row, or None for one output
    row per input row in batch order.  The output leads with ``id_col``
    taken at ``rows``, typed from ``df.schema``; with ``id_col=None`` no
    id is projected or emitted."""
    names = [name for name, _ in out_fields]
    ddl = [f"{name} {t if isinstance(t, str) else t.simpleString()}"
           for name, t in out_fields]
    proj = list(cols)
    if id_col is not None:
        names.insert(0, id_col)
        ddl.insert(0, f"{id_col} {df.schema[id_col].dataType.simpleString()}")
        proj.insert(0, id_col)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            rows, out = kernel(batch)
            if id_col is not None:
                ids = batch.column(id_col)
                out = [ids if rows is None else ids.take(pa.array(rows))] + out
            yield pa.RecordBatch.from_arrays(out, names=names)

    return df.select(*proj).mapInArrow(fn, ", ".join(ddl))

"""The engine's one Python row boundary: a per-row function over a
DataFrame, run as a single mapInArrow.

Every operator whose Python work is per row (extraction, the HTML
strip, media decode, the WARC splitter, corpus synthesis, chunk-record
coercion) goes through `map_rows`, so the row↔batch conversion is
written once. Input Arrow batches are read column-wise into Python
values; the dicts the function yields are packed with
`RecordBatch.from_pylist` into output batches of at most the session's
`spark.sql.execution.arrow.maxRecordsPerBatch` rows (plans/session
caps it at 256, because rows carry whole documents). The function is
consumed lazily, so an exploding operator (one WARC archive → its
records, one video → its frames) holds at most one output batch.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, types as T
from pyspark.sql.pandas.types import to_arrow_schema


def map_rows(df: DataFrame, fn: Callable[..., Iterable[dict]], schema: T.StructType) -> DataFrame:
    """`fn(*values)` for each row of `df`, its columns in order → the
    rows of `schema` it yields, as dicts keyed by field name (a missing
    key is NULL). Scan-local: zero shuffles."""
    cap = int(df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    arrow_schema = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        out: list[dict] = []
        for batch in batches:
            for values in zip(*(c.to_pylist() for c in batch.columns)):
                for rec in fn(*values):
                    out.append(rec)
                    # a cap of 0 or less is Spark's "no limit"
                    if len(out) == cap:
                        yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)
                        out = []
        if out:
            yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)

    return df.mapInArrow(run, schema)

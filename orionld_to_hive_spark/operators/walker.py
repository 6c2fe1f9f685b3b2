"""The one boundary every per-document walker query crosses.

A walker query turns each `documents` row into 0..N output rows with a
pure Python function — synthesize a fixture payload from the text, run
the hand-written codec over it, emit typed rows. The Spark side of that
is the same for every format, so it lives here once:

  - input: `load_docs_spread(spark, sf_dir, "doc_id", "text")`, the
    layout-adaptive round-robin spread that keeps a single-split corpus
    from pinning the Python stage to one task;
  - one `mapInPandas` node, so encode + parse run inside a single Python
    task and only doc text goes in and typed rows come out (operator
    fusion: the boundary is crossed once by construction, not by each
    query composing batch generators correctly);
  - output columns built once per batch from the row tuples, with the
    numpy dtype the declared schema asks for.

`walk(doc_id, text)` yields tuples in `schema` field order; a filter
yields nothing for a dropped doc, a stats query one tuple, a fan-out
(GIF frames) one per frame. A NULL text arrives as "".
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.sources.warehouse import load_docs_spread

Walk = Callable[[int, str], Iterable[tuple]]

# numpy dtype per Spark type, and the pandas nullable twin used when a
# batch's column holds a None (numpy would reject it or coerce it)
_DTYPES = {
    T.ByteType: ("int8", "Int8"),
    T.ShortType: ("int16", "Int16"),
    T.IntegerType: ("int32", "Int32"),
    T.LongType: ("int64", "Int64"),
    T.FloatType: ("float32", "Float32"),
    T.DoubleType: ("float64", "Float64"),
    T.BooleanType: ("bool", "boolean"),
}


def _column(values: list, dtypes: tuple[str, str] | None):
    if dtypes is None:  # strings, binary: object column as-is
        return pd.Series(values, dtype="object")
    if None in values:
        return pd.array(values, dtype=dtypes[1])
    return np.array(values, dtype=dtypes[0])


def walker_query(
    spark: SparkSession, sf_dir: str, walk: Walk, schema: T.StructType
) -> DataFrame:
    names = schema.fieldNames()
    dtypes = [_DTYPES.get(type(f.dataType)) for f in schema.fields]

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                row
                for d, t in zip(pdf["doc_id"].tolist(), pdf["text"].tolist())
                for row in walk(d, t or "")
            ]
            cols = list(zip(*rows)) if rows else [()] * len(names)
            yield pd.DataFrame(
                {n: _column(list(c), dt) for n, c, dt in zip(names, cols, dtypes)}
            )

    return load_docs_spread(spark, sf_dir, "doc_id", "text").mapInPandas(
        run, schema
    )

"""The walker_query contract: any row count per doc, NULL text, empty
batches, nullable ints, and the declared schema on the way out."""

from __future__ import annotations

from pyspark.sql import types as T

from orionld_to_hive_spark.operators import walker as W

SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("k", T.IntegerType(), True),
        T.StructField("size", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("flag", T.BooleanType(), True),
        T.StructField("ratio", T.DoubleType(), True),
    ]
)


def test_walker_query_contract(spark, monkeypatch):
    def walk(doc_id, text):  # nested: workers cannot import this module
        # doc 1 → no rows, doc 2 → one row with a NULL int, doc 3 → three
        for k in range(doc_id - 1 if doc_id < 3 else 3):
            size = None if doc_id == 2 else len(text) + k
            yield doc_id, k, size, text, k % 2 == 0, k / 4

    docs = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "xyz")], "doc_id LONG, text STRING"
    ).repartition(8)  # more partitions than docs: most batches are empty
    monkeypatch.setattr(W, "load_docs_spread", lambda *a: docs)
    df = W.walker_query(spark, "unused", walk, SCHEMA)
    assert df.schema == SCHEMA
    assert sorted(map(tuple, df.collect())) == [
        (2, 0, None, "", True, 0.0),
        (3, 0, 3, "xyz", True, 0.0),
        (3, 1, 4, "xyz", False, 0.25),
        (3, 2, 5, "xyz", True, 0.5),
    ]

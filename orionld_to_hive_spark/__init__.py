"""orionld_to_hive_spark — a PySpark-native analytics engine.

Re-expresses the query and data-processing capabilities of the reference
pipeline dannydenovi/OrionLD-to-Hive (Orion-LD → HBase → Hive) as an
idiomatic Spark SQL / DataFrame / Structured Streaming engine, plus the
large-scale training-data-pipeline operators (dedup, similarity search,
multimodal columns, text analysis) it would need at 100 TB.

Layout:
    session.py    — SparkSession factory tuned for the local[32] harness
    schemas.py    — fixed StructTypes (readings fact table, raw TSV, NGSI-LD)
    sources/      — batch TSV ingest, parquet warehouse, NGSI-LD JSON source
    operators/    — query/operator library (parity, tpch, windows, dedup,
                    similarity, text, multimodal)
    functions/    — scalar helpers + cross-engine-deterministic aggregates
    streaming/    — debounce stateful op, streaming ingest, latest-wins upsert
    plans/        — plan-inspection helpers (pushdown/broadcast assertions)
    registry.py   — name → (spark, sf_dir) -> DataFrame registry
    oracles.py    — DuckDB oracle SQL twins for the registry
    zipimport_cache.py — per-task zip directory re-read skip, installed
                    when a Python worker imports the package
"""

from orionld_to_hive_spark import zipimport_cache as _zipimport_cache

__version__ = "0.1.0"

_zipimport_cache.install()

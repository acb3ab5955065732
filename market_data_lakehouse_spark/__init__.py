"""market_data_lakehouse_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference
``jrajath94/market-data-lakehouse`` engine (a single-process Python
Parquet lakehouse, see ``/root/reference/src/market_data_lakehouse/
lakehouse.py``), re-expressed Spark-first:

- storage: date-partitioned Parquet (columnar, Snappy), written via
  ``df.write.partitionBy``
- query: DataFrame / Spark SQL over the canonical schema, with
  Catalyst doing partition pruning / predicate pushdown / column
  pruning (the reference does pruning by hand and filters in Python)
- validation: OHLC invariants as boolean column predicates with a
  valid/invalid split (reference: per-row ``validate()``,
  lakehouse.py:73-88)
- streaming: Structured Streaming micro-batches (reference README's
  ring buffer + 100ms flush)
- extensions: dedup / similarity search / text analysis / multimodal
  operators for large-scale training-data pipelines.

Everything here derives from public knowledge only: the Apache Spark
API and the reference repo's observable behavior.
"""

import importlib

# public name -> defining submodule. Imported on first use (PEP 562),
# so importing a pyspark-free submodule such as ``logcore`` (the
# ``lake_changes`` workers' log reader) never loads pyspark.
_EXPORTS = {
    "AssetClass": "lakehouse",
    "DataLakehouse": "lakehouse",
    "IngestionStats": "lakehouse",
    "OHLCVBar": "lakehouse",
    "PartitionManager": "lakehouse",
    "QueryResult": "lakehouse",
    "TransactionalLake": "txnlog",
    "asof_join": "asof",
    "BAR_SCHEMA": "schema",
    "TICK_SCHEMA": "schema",
    "get_spark": "session",
}
__all__ = list(_EXPORTS)


def __getattr__(name: str):
    mod = _EXPORTS.get(name)
    if mod is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(f"{__name__}.{mod}"), name)


__version__ = "0.1.0"

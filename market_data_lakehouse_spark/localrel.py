"""LocalRelation-backed DataFrames for driver-side row lists.

``spark.createDataFrame(list, schema)`` in PySpark plans a pickled
RDD scan sliced ``defaultParallelism`` ways: every downstream action
runs a 32-task stage whose tasks each stand up a Python worker —
~0.2 s of pure overhead per stage for a handful of metadata rows,
and a broadcast build over it pays a full distributed job. Routing
the same rows through a pandas frame takes Spark's Arrow ingest
path, which builds a genuine LocalRelation: the plan reads it as a
``LocalTableScan`` and broadcast hash joins collect it driver-side
with ZERO Spark jobs (profiled on this engine: the dv anti-join
build dropped from a 32-task ~0.3 s stage to no job at all).

``local_df`` is the drop-in used by every internal metadata-row
construction (dv position lists, commit receipts, centroid tables,
query-vector sets). It falls back to the stock path when a value
could convert differently through Arrow (naive datetimes localize
with the session timezone on the Arrow path but the machine
timezone on the pickle path), so the worst case is exactly the old
behavior.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType


def _has_naive_datetime(v) -> bool:
    """Recursive naive-datetime scan (r17, ADVICE r16: the one-level
    scan would have let ``array<struct<ts timestamp>>`` through the
    Arrow path and localized it with the session tz). Rows and
    nested tuples/lists/dicts all recurse; any datetime — naive or
    not — routes to the stock path, erring toward the old behavior."""
    if isinstance(v, _dt.datetime):
        return True
    if isinstance(v, (tuple, list)):
        return any(_has_naive_datetime(x) for x in v)
    if isinstance(v, dict):
        return any(_has_naive_datetime(x) for x in v.values())
    return False


def _arrow_safe(rows: list) -> bool:
    """True when every row converts identically through the Arrow
    and pickle ingest paths: plain tuples/lists/Rows/bare scalars
    with no datetime at ANY nesting depth. Dict rows (field-name
    keyed) are NOT safe — ``tuple(dict)`` yields the KEYS, so the
    pandas conversion would silently ingest wrong data (ADVICE r16);
    they route to the stock path, which handles them by name."""
    for r in rows:
        if isinstance(r, dict) and not isinstance(r, Row):
            return False
        if _has_naive_datetime(r):
            return False
    return True


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """DataFrame over driver-side ``rows`` that plans a
    ``LocalTableScan`` (LocalRelation) instead of a 32-slice pickled
    RDD. ``schema`` is a DDL string or ``StructType`` — identical
    contract to ``spark.createDataFrame(rows, schema)``."""
    rows = rows if isinstance(rows, list) else list(rows)
    try:
        if not _arrow_safe(rows):
            return spark.createDataFrame(rows, schema)
        struct = (
            schema
            if isinstance(schema, StructType)
            else StructType.fromDDL(schema)
        )
        import pandas as pd

        names = struct.fieldNames()
        if rows and not isinstance(rows[0], (tuple, list)):
            # single bare values per row (matches createDataFrame's
            # handling of e.g. list[Row] with one field) — normalize
            data = [tuple(r) if hasattr(r, "__fields__") else (r,)
                    for r in rows]
        else:
            data = [tuple(r) for r in rows]
        pdf = pd.DataFrame(data, columns=names, dtype=object)
        return spark.createDataFrame(pdf, struct)
    except Exception:
        # any conversion surprise: the stock path is the contract
        return spark.createDataFrame(rows, schema)


def arrow_df(spark: SparkSession, table, schema: StructType) -> DataFrame:
    """DataFrame over a driver-side ``pyarrow.Table``: a
    LocalRelation (broadcast and collected like any ``local_df``)
    that keeps ``table``, so :func:`arrow_of` hands the rows back as
    Arrow with no Spark job — collecting even a LocalRelation as
    Arrow runs one. Only this very frame carries the table: MERGE's
    source pass gets it back only when the frame reaches it
    unchanged, and collects (one job) once a generated column or an
    upcast to the committed types has rewritten it."""
    df = spark.createDataFrame(table, schema)
    df._arrow_table = table
    return df


def arrow_of(df: DataFrame):
    """The ``pyarrow.Table`` :func:`arrow_df` built ``df`` from, or
    None. Any transformation returns a new DataFrame, so a derived
    frame never inherits its parent's rows."""
    return vars(df).get("_arrow_table")

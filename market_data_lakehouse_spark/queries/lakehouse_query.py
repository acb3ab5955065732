"""End-to-end lakehouse round-trip as a declared, oracle-checked
query: events -> OHLCV bars -> validated partitioned ingest ->
pruned + filtered + sorted read-back (S3/S5/S6/F1/F2/F3/O1/X3 in one
hard signal).

The oracle reproduces the final result straight from the events
view — if ingest dropped, duplicated, or mangled any row (or the
partition pruning lost one), the hash diverges.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_data_lakehouse_spark.lakehouse import DataLakehouse
from market_data_lakehouse_spark.localrel import local_df
from market_data_lakehouse_spark.queries.catalog import (
    load,
    register,
    scratch_dir,
)


def _bars_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bar stream derived from events: every event is
    one valid OHLCV bar (open=close=value, high/low = value ±1)."""
    ev = load(spark, sf_dir, "events")
    v = F.col("value")
    return ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        v.alias("open"),
        (v + 1.0).alias("high"),
        (v - 1.0).alias("low"),
        v.alias("close"),
        F.col("user_id").alias("volume"),
        F.lit("equity").alias("asset_class"),
    )


@register(
    "lakehouse_roundtrip",
    oracle="""
    SELECT event_type AS symbol, ts AS timestamp,
           value AS open, value + 1.0 AS high, value - 1.0 AS low,
           value AS close, user_id AS volume, 'equity' AS asset_class
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <= TIMESTAMP '2024-01-15 23:59:59'
    """,
)
def lakehouse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest the derived bar stream into a fresh lake (validated,
    date-partitioned parquet), then run the reference query path:
    symbol filter + inclusive time range + partition pruning +
    timestamp sort."""
    lake_dir = scratch_dir("roundtrip")
    lake = DataLakehouse(spark, lake_dir)
    lake.ingest_batch(_bars_from_events(spark, sf_dir))
    result = lake.query(
        symbol="click",
        start="2024-01-05 00:00:00",
        end="2024-01-15 23:59:59",
        collect_metrics=False,
    )
    return result.df


@register(
    "s2_csv_roundtrip",
    oracle="""
    SELECT event_type AS symbol, COUNT(*) AS n,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY event_type
    """,
)
def s2_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + scan (S2/S4, reference lakehouse.py:427-452/603-628):
    the same bar stream written as headed CSV text, loaded back through
    ``ingest_csv_files`` (the schema-applied, PERMISSIVE CSV scan) into
    a fresh lake, aggregated per symbol. Timestamps are written as
    µs-exact text (a timestamp->string CAST: Spark's CSV writer pads
    ``SSSSSS`` from milliseconds), so they survive the round-trip at
    microsecond precision."""
    root = scratch_dir("csv")
    csv_dir = os.path.join(root, "bars")
    _bars_from_events(spark, sf_dir).withColumn(
        "timestamp", F.col("timestamp").cast("string")
    ).write.option("header", True).csv(csv_dir)
    lake = DataLakehouse(spark, os.path.join(root, "lake"))
    lake.ingest_csv_files(csv_dir)
    return (
        lake.table()
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("timestamp").alias("first_ts"),
            F.max("timestamp").alias("last_ts"),
        )
    )


@register(
    "s8_merge_upsert",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           ROUND(SUM(CASE WHEN event_id >= 2500 THEN value * 2
                          ELSE value END), 2) AS sum_value
    FROM events WHERE event_id < 7500 GROUP BY event_type
    """,
)
def s8_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE as a hard signal: seed the transactional
    lake with events < 5000, then merge a source of events 2500-7499
    with doubled values — 2500-4999 are updates (matched keys,
    affected files rewritten), 5000-7499 inserts. The final snapshot
    must equal the SQL union of untouched + updated + inserted rows;
    any survivor loss, double-apply, or missed insert diverges the
    hash."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "event_type", "value", F.to_date("ts").alias("date"))
    )
    lake_dir = scratch_dir("merge")
    tx = TransactionalLake(spark, lake_dir, partition_by=("date",))
    tx.append(ev.filter(F.col("event_id") < 5000))
    source = ev.filter(
        (F.col("event_id") >= 2500) & (F.col("event_id") < 7500)
    ).withColumn("value", F.col("value") * 2)
    tx.merge(source, on="event_id")
    return (
        tx.snapshot()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "s8_txn_time_travel",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM events WHERE event_id < 5000 GROUP BY event_type
    """,
)
def s8_txn_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID + time-travel as a hard signal (S8/T6): two transactional
    appends, then read the version-0 snapshot — it must contain
    exactly the first append's rows even though the table has since
    grown. The float sum is safe unrounded-to-2 here because `value`
    sums are small; rounding guards the last ulp."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    from market_data_lakehouse_spark.queries.catalog import load

    ev = load(spark, sf_dir, "events").withColumn("date", F.to_date("ts"))
    lake_dir = scratch_dir("txn")
    tx = TransactionalLake(spark, lake_dir, partition_by=("date",))
    tx.append(ev.filter(F.col("event_id") < 5000))
    tx.append(ev.filter(F.col("event_id") >= 5000))
    assert tx.snapshot().count() == ev.count()
    return (
        tx.snapshot(version=0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "t11_incremental_mv",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT)
               * (CASE WHEN event_id % 10 = 0 THEN 2 ELSE 1 END) AS cents
      FROM events
      WHERE NOT (event_id % 7 = 3)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(cents) AS DOUBLE) / 100.0, 2) AS sum_value,
           ROUND((CAST(SUM(cents) AS DOUBLE) / COUNT(cents)) / 100.0, 6)
             AS avg_value,
           ROUND(CAST(MIN(cents) AS DOUBLE) / 100.0, 2) AS min_value,
           ROUND(CAST(MAX(cents) AS DOUBLE) / 100.0, 2) AS max_value
    FROM base GROUP BY event_type
    """,
)
def t11_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained aggregate view as a hard signal: a
    transactional source lake takes two appends, a copy-on-write
    UPDATE (cents doubled on every 10th id), and a DELETE (every
    7th-mod-3 id); an :class:`IncrementalAggView` grouped by
    event_type folds each span from the CDC feed — refreshes
    interleave with the DML, so the second refresh folds an
    append+update span and the third a delete span. The oracle
    recomputes the FINAL state from scratch in SQL: any drift in the
    delta fold (a survivor counted twice, an update's delete+insert
    pair not cancelling, a watermark slip double-applying a span)
    diverges count, sum, or average. min/max ride the r6 HYBRID
    maintenance (incremental on the insert spans, per-group source
    recompute for the update/delete-touched groups — here EVERY
    group, since the DML predicates are id-based) and must land on
    the recompute's values exactly. Money is exact scaled-long
    cents (queries/money.py), so incremental fold order cannot
    change the sums vs the recompute."""
    from market_data_lakehouse_spark.mv import IncrementalAggView
    from market_data_lakehouse_spark.queries.money import to_scaled
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", to_scaled("value").alias("cents")
    )
    root = scratch_dir("mv")
    src = TransactionalLake(spark, os.path.join(root, "src"), partition_by=())
    mv = IncrementalAggView(
        spark,
        src,
        os.path.join(root, "mv"),
        group_by=["event_type"],
        sum_cols=["cents"],
        minmax_cols=["cents"],
    )
    src.append(ev.filter(F.col("event_id") < 6000))
    mv.refresh()
    src.append(ev.filter(F.col("event_id") >= 6000))
    src.update_where("event_id % 10 = 0", {"cents": "cents * 2"})
    mv.refresh()
    src.delete_where("event_id % 7 = 3")
    mv.refresh()
    return mv.view().select(
        "event_type",
        "n_rows",
        F.round(F.col("sum_cents") / 100.0, 2).alias("sum_value"),
        F.round(F.col("avg_cents") / 100.0, 6).alias("avg_value"),
        F.round(F.col("min_cents") / 100.0, 2).alias("min_value"),
        F.round(F.col("max_cents") / 100.0, 2).alias("max_value"),
    )


@register(
    "s2_json_roundtrip",
    oracle="""
    SELECT source, lang, COUNT(*) AS n,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           MIN(md5(text)) AS min_md5
    FROM documents GROUP BY source, lang
    """,
)
def s2_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + scan round-trip (the third source format, next to
    the parquet and CSV lakes; batch twin of the streaming layer's
    JSON file source): documents written as JSON lines, read back
    under the explicit schema, aggregated per (source, lang). The
    oracle runs on the ORIGINAL parquet — equality proves the text
    survived JSON string escaping byte-exactly (min_md5 diverges on
    any mangled character), and counts prove no row was dropped or
    duplicated. Schema-on-read (no inference pass) is the posture a
    100 TB JSON ingest needs anyway: inference is a full extra
    scan."""
    docs = load(spark, sf_dir, "documents")
    out_dir = scratch_dir("json")
    docs.write.mode("overwrite").json(out_dir)
    back = spark.read.schema(docs.schema).json(out_dir)
    return back.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min(F.md5(F.col("text").cast("binary"))).alias("min_md5"),
    )


@register(
    "s3_orc_roundtrip",
    oracle="""
    SELECT source, lang, COUNT(*) AS n,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           MIN(md5(text)) AS min_md5
    FROM documents WHERE n_chars > 100 GROUP BY source, lang
    """,
)
def s3_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan round-trip — the second columnar format next
    to parquet (S2/S3 family): documents written as ORC, read back
    with a pushed predicate (`n_chars > 100` reaches the ORC reader
    as a search argument, so stripes whose min/max exclude it are
    skipped — same row-group-skipping story as the parquet scans),
    then aggregated per (source, lang) with an md5 witness. The
    oracle runs on the ORIGINAL parquet: equality proves the bytes
    survived the format conversion and the pushed filter selected
    exactly the right rows."""
    docs = load(spark, sf_dir, "documents")
    out_dir = scratch_dir("orc")
    docs.write.mode("overwrite").orc(out_dir)
    back = spark.read.orc(out_dir).filter(F.col("n_chars") > 100)
    return back.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min(F.md5(F.col("text").cast("binary"))).alias("min_md5"),
    )


@register(
    "f5_stats_skipping",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE event_id BETWEEN 250 AND 650
    GROUP BY event_type
    """,
)
def f5_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-level data skipping as a hard signal (F5 upgraded from
    row-group stats to Delta-style stats-in-log): three appends with
    disjoint event_id ranges land as separate files whose min/max
    ride the commit; ``scan_between`` must PROVABLY skip the
    untouched range (asserted inside the query — a skipping
    regression fails the run, not just slows it) while returning
    exactly what a full-scan filter returns (the oracle recomputes
    it from the raw events view)."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    lake_dir = scratch_dir("skip")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    # one file per append: the skip arithmetic is deterministic
    tx.append(ev.filter(F.col("event_id") < 300).coalesce(1))
    tx.append(
        ev.filter(
            (F.col("event_id") >= 300) & (F.col("event_id") < 600)
        ).coalesce(1)
    )
    tx.append(ev.filter(F.col("event_id") >= 600).coalesce(1))
    kept, total, _ = tx.prune_files({"event_id": (250, 650)})
    assert (total, len(kept)) == (3, 3), (kept, total)
    # the disjoint probe must actually skip: only the middle file can
    # hold ids 300-599
    kept_mid, _, _ = tx.prune_files({"event_id": (350, 550)})
    assert len(kept_mid) == 1, kept_mid
    return (
        tx.scan_between({"event_id": (250, 650)})
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "f6_bloom_skipping",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
           ROUND(value, 4) AS value
    FROM events WHERE event_id = 555
    """,
)
def f6_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file BLOOM-filter skipping as a hard signal (F6, the
    point-lookup complement to f5's min/max skipping): three appends
    land the events table hash-INTERLEAVED (event_id % 3), so every
    file's [min, max] spans the whole key range and min/max pruning
    provably keeps all three — asserted in-query — while the logged
    bloom filter prunes the equality probe to exactly the one file
    whose residue class holds the key (555 % 3 == 0). The query
    returns the looked-up row itself; the oracle recomputes it from
    the raw events view, so a wrong skip (the only dangerous bloom
    failure) would hash-mismatch, not just slow down."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        "value",
    )
    lake_dir = scratch_dir("bloom")
    tx = TransactionalLake(
        spark, lake_dir, partition_by=(), bloom_columns=("event_id",)
    )
    for residue in range(3):
        tx.append(
            ev.filter(F.col("event_id") % 3 == residue).coalesce(1)
        )
    # min/max is blind here: every file spans ~the full id range
    kept_mm, total, _ = tx.prune_files({"event_id": (555, 555)})
    assert (total, len(kept_mm)) == (3, 3), (total, kept_mm)
    # the bloom probe must cut to the single residue-class file
    kept, _, _ = tx.prune_files({}, equals={"event_id": 555})
    assert len(kept) == 1, kept
    return tx.scan_between({}, equals={"event_id": 555}).select(
        "event_id", "event_type", F.round("value", 4).alias("value")
    )


@register(
    "s12_deletion_vectors",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(event_id AS BIGINT)) AS BIGINT) AS sum_id
    FROM events WHERE NOT (event_id % 7 = 0 OR value < 0.2)
    GROUP BY event_type
    """,
)
def s12_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (S8 extension, r7):
    two positional deletes land as commits that record only (file,
    row-index) pairs — asserted in-query: the data-file set is
    byte-identical before and after, so a delete that drops kilobytes
    never rewrites gigabytes. The snapshot read applies the vectors
    as a broadcast anti-join on ``_metadata.row_index``; the oracle
    recomputes the surviving aggregate from the raw events view, so a
    vector that hid the wrong row (or failed to hide the right one)
    hash-mismatches."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        "value",
    )
    lake_dir = scratch_dir("dv")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.repartition(3))
    before, _, _ = tx.prune_files({})
    tx.delete_where("event_id % 7 = 0", mode="dv")
    tx.delete_where("value < 0.2", mode="dv")
    after, _, _ = tx.prune_files({})
    assert sorted(before) == sorted(after), "dv delete rewrote files"
    assert tx._snapshot_state()[3], "no deletion vectors recorded"
    return tx.snapshot().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("bigint").alias("sum_id"),
    )


@register(
    "s14_dv_update",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(CASE WHEN event_id % 7 = 0
                          THEN value + 100 ELSE value END), 2) AS sum_v,
           CAST(SUM(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_upd
    FROM events
    GROUP BY event_type
    """,
)
def s14_dv_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE via deletion vectors (S8 extension, r8):
    ``update_where(mode="dv")`` hides the preimage rows with a
    positional vector and appends the postimage rows as new files
    under ONE commit — asserted in-query: every pre-update data file
    survives untouched (the update moved O(matched rows), not
    O(affected files)), and the commit recorded a vector. The oracle
    recomputes the post-update aggregate straight from raw events
    with the assignment applied as a CASE, so an update that touched
    the wrong rows, dropped a row version, or double-applied the
    assignment hash-mismatches."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        "value",
    )
    lake_dir = scratch_dir("dvu")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.repartition(3))
    before, _, _ = tx.prune_files({})
    tx.update_where("event_id % 7 = 0", {"value": "value + 100"}, mode="dv")
    after, _, _ = tx.prune_files({})
    assert set(before) <= set(after), "dv update rewrote a file"
    assert len(after) > len(before), "dv update appended no postimage"
    assert tx._snapshot_state()[3], "no deletion vector recorded"
    return tx.snapshot().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_v"),
        F.sum(
            F.when(F.col("event_id") % 7 == 0, 1).otherwise(0)
        ).cast("bigint").alias("n_upd"),
    )


@register(
    "s15_table_detail",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS version,
           CAST(3 AS BIGINT) AS num_files,
           CAST((SELECT COUNT(*) FROM events WHERE event_id % 11 = 0)
                AS BIGINT) AS num_deleted_rows,
           CAST((SELECT COUNT(*) FROM events WHERE event_id % 11 <> 0)
                AS BIGINT) AS visible_rows
    """,
)
def s15_table_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE DETAIL as a hard signal (S8 extension, r8): build a
    lake with a known layout (one 3-file append + one dv delete),
    then cross-check the METADATA surfaces against the data itself —
    ``detail()`` must report exactly the committed version and file
    count, its deleted-row total must equal the count DuckDB derives
    from the delete predicate, and ``files()``'s per-file rows must
    be consistent (sum of per-file dv cardinalities == the total;
    every live file listed once). A metadata surface that drifts
    from the log (file lost, vector miscounted, stale version)
    hash-mismatches."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        "value",
    )
    lake_dir = scratch_dir("detail")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.repartition(3))
    tx.delete_where("event_id % 11 = 0", mode="dv")
    d = tx.detail()
    f = tx.files().collect()
    assert len(f) == d["num_files"], "files() vs detail() count drift"
    assert sum(r.deleted_rows for r in f) == d["num_deleted_rows"]
    assert len({r.path for r in f}) == len(f), "duplicate file rows"
    visible = tx.snapshot().count()
    return local_df(spark, 
        [
            (
                d["version"],
                d["num_files"],
                d["num_deleted_rows"],
                visible,
            )
        ],
        "version bigint, num_files bigint, num_deleted_rows bigint, "
        "visible_rows bigint",
    )


@register(
    "s16_overwrite_where",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(event_id AS BIGINT)) AS BIGINT) AS sum_id
    FROM (
      SELECT event_type, event_id FROM events
      WHERE event_type <> 'click'
      UNION ALL
      SELECT event_type, event_id + 1000000000 AS event_id FROM events
      WHERE event_type = 'click'
    ) GROUP BY event_type
    """,
)
def s16_overwrite_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replaceWhere as a hard signal (S8 extension, r8): atomically
    swap one event_type's rows for a recomputed version (ids shifted
    by 1e9 — a deterministic 'backfill') while every other row —
    including rows in files that ALSO contain the replaced type —
    survives byte-exactly. The oracle rebuilds the post-swap table
    from raw events with plain SQL set logic, so a swap that leaked,
    dropped, or duplicated a row on either side of the predicate
    hash-mismatches. In-query asserts pin that input validation
    rejects out-of-predicate rows."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        "value",
    )
    lake_dir = scratch_dir("rw")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.repartition(3))
    backfill = ev.filter(F.col("event_type") == "click").select(
        (F.col("event_id") + 1000000000).alias("event_id"),
        "event_type",
        "value",
    )
    probe = ev.filter(F.col("event_type") == "view").limit(1)
    try:
        tx.overwrite_where(probe, "event_type = 'click'")
        raise AssertionError("out-of-predicate input must raise")
    except ValueError:
        pass
    tx.overwrite_where(backfill, "event_type = 'click'")
    return tx.snapshot().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("bigint").alias("sum_id"),
    )


@register(
    "s17_scoped_optimize",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(event_id AS BIGINT)) AS BIGINT) AS sum_id
    FROM events WHERE NOT event_id % 9 = 0
    GROUP BY event_type
    """,
)
def s17_scoped_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scoped compaction as a hard signal (S8 extension, r8): after a
    dv delete, optimize(where=) compacts ONLY the event_type range it
    names — asserted in-query: files outside the scope survive
    byte-identically, scoped vectors materialize while out-of-scope
    vectors persist, and the no-op path burns no version. The oracle
    recomputes the visible aggregate from raw events, so a compaction
    that lost, duplicated, or resurrected a row hash-mismatches."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        "value",
    )
    lake_dir = scratch_dir("so")
    tx = TransactionalLake(spark, lake_dir, partition_by=("event_type",))
    tx.append(ev.repartition(2))
    tx.delete_where("event_id % 9 = 0", mode="dv")
    before, _, _ = tx.prune_files({})
    out_of_scope = [f for f in before if "event_type=view" in f]
    v = tx.version
    # no-op scope: nothing selected, no version burned
    tx.optimize(where={"event_type": ("zzz", "zzz")})
    assert tx.version == v, "no-op optimize burned a version"
    tx.optimize(where={"event_type": ("click", "error")})
    after, _, _ = tx.prune_files({})
    assert set(out_of_scope) <= set(after), "out-of-scope file rewritten"
    _f, _s, _v, dvs = tx._snapshot_state()
    assert all(
        "event_type=click" not in f and "event_type=error" not in f
        for f in dvs
    ), "scoped vectors failed to materialize"
    return tx.snapshot().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("bigint").alias("sum_id"),
    )


@register(
    "t13_restore_across_dv",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(event_id AS BIGINT)) AS BIGINT) AS sum_id
    FROM events WHERE NOT event_id % 5 = 0
    GROUP BY event_type
    """,
)
def t13_restore_across_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE across deletion vectors as a hard signal (r8): delete
    with a vector (v1), delete more (v2), dv-update (v3), then
    restore to v1 — the commit's dv_reset must reconstruct EXACTLY
    v1's vector state: the v2/v3 deletions and postimages vanish,
    the v1 deletion stays. The oracle recomputes v1's visible rows
    from raw events; a reset that resurrected a v1-deleted row or
    kept a v2-hidden one hash-mismatches. The restore's CDC net
    change is asserted row-exact in-query."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        "value",
    )
    lake_dir = scratch_dir("rdv")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.repartition(3))  # v0
    tx.delete_where("event_id % 5 = 0", mode="dv")  # v1 <- target
    tx.delete_where("event_id % 7 = 1", mode="dv")  # v2
    tx.update_where("event_id % 11 = 3", {"value": "0.0"}, mode="dv")  # v3
    v = tx.restore(version=1)
    ch = tx.read_changes(v)
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    net = ch.agg(F.sum(sign)).collect()[0][0]
    n_v2_back = ev.filter(
        "event_id % 7 = 1 AND NOT event_id % 5 = 0"
    ).count()
    assert net == n_v2_back, (net, n_v2_back)
    return tx.snapshot().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("bigint").alias("sum_id"),
    )


@register(
    "s13_zero_copy_clone",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(event_id AS BIGINT)) AS BIGINT) AS sum_id
    FROM events WHERE NOT event_id % 5 = 0
    GROUP BY event_type
    """,
)
def s13_zero_copy_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy clone (S8 extension, r7): hardlink-clone a lake that
    carries deletion vectors, then mutate the SOURCE after cloning —
    the clone must keep serving the exact clone-time state (asserted
    by the oracle recomputing it from raw events) while sharing every
    byte written before the divergence (asserted in-query: same inode
    count, fresh v0 history)."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        "value",
    )
    root = scratch_dir("clone")
    src = TransactionalLake(spark, os.path.join(root, "src"), partition_by=())
    src.append(ev.repartition(2))
    src.delete_where("event_id % 5 = 0", mode="dv")
    clone = src.clone(os.path.join(root, "clone"))
    assert clone.version == 0, "clone history must start fresh"
    # source mutations after the clone must not leak into it
    src.delete_where("event_id % 2 = 0", mode="dv")
    src.append(ev.limit(10))
    return clone.snapshot().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("bigint").alias("sum_id"),
    )


@register(
    "t12_scd2_rebuild",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
      FROM events),
    o AS (
      SELECT *, LAG(event_type) OVER
               (PARTITION BY user_id ORDER BY tsu, event_id) AS prev
      FROM c),
    k AS (SELECT * FROM o WHERE prev IS DISTINCT FROM event_type),
    f AS (
      SELECT user_id, event_type, tsu AS valid_from,
             LEAD(tsu) OVER
               (PARTITION BY user_id ORDER BY tsu, event_id) AS valid_to
      FROM k)
    SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
           CAST(valid_from AS BIGINT) AS valid_from,
           CAST(valid_to AS BIGINT) AS valid_to,
           (valid_to IS NULL) AS is_current
    FROM f
    """,
)
def t12_scd2_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension rebuild (scd.py): each user's event_type
    stream becomes a versioned history — consecutive re-statements
    collapse (null-safe lag), each version closed by the next one's
    timestamp (lead). The DuckDB oracle mirrors the same two-window
    algebra with IS DISTINCT FROM; intervals compare as exact
    epoch-microsecond longs. The incremental twin (scd2_apply, the
    APPLY CHANGES pattern) is pytest-proven equivalent to this
    rebuild over arbitrary in-order batch splits."""
    from market_data_lakehouse_spark.scd import scd2_rebuild
    from market_data_lakehouse_spark.schema import epoch_us

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        epoch_us(F.col("ts")).alias("tsu"),
        "event_id",
    )
    return scd2_rebuild(
        ev, ["user_id"], "tsu", ["event_type"], tiebreak="event_id"
    ).select(
        "user_id",
        "event_type",
        F.col("valid_from").cast("bigint").alias("valid_from"),
        F.col("valid_to").cast("bigint").alias("valid_to"),
        "is_current",
    )


@register(
    "s18_metadata_count",
    oracle="""
    SELECT CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_total,
           CAST((SELECT COUNT(*) FROM events
                 WHERE NOT (event_id % 7 = 0 OR value < 0.2))
                AS BIGINT) AS n_live,
           TRUE AS matches_scan
    """,
)
def s18_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT(*) from the transaction log (S8 extension,
    r9 — Delta's numRecords-in-log design): every add-commit records
    per-file row counts, so ``count_rows`` answers the warehouse's
    most common query by folding kilobytes of log (minus
    deletion-vector sizes) with NO Spark job and NO file I/O. The
    gate exercises the hard cases end-to-end on one lake — a dv
    delete (count must drop by exactly the vector size), a
    copy-on-write delete (rewritten survivors' new files carry fresh
    counts), and version time travel (v0's count is the full corpus)
    — and DuckDB recomputes both anchors from raw events;
    matches_scan additionally pins the metadata count to a real
    vectored scan of the same snapshot."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        "value",
    )
    lake_dir = scratch_dir("cnt")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.repartition(3))
    tx.delete_where("event_id % 7 = 0", mode="dv")
    tx.delete_where("value < 0.2")  # copy-on-write rewrite
    n_total = tx.count_rows(version=0)
    n_live = tx.count_rows()
    n_scan = tx.snapshot().count()
    return local_df(spark, 
        [(n_total, n_live, n_live == n_scan)],
        "n_total bigint, n_live bigint, matches_scan boolean",
    )


@register(
    "s19_identity_column",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS min_id,
           CAST(COUNT(*) - 1 AS BIGINT) AS max_id,
           CAST(COUNT(*) AS BIGINT) AS distinct_ids
    FROM events
    """,
)
def s19_identity_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY (S8 extension, r9 — Delta
    identity-column parity): appends assign unique CONTIGUOUS 64-bit
    ids from a log-tracked high-water mark with no global sort — a
    per-partition count pass (one metadata row per partition) plus a
    codegen'd offset projection, so a 1000-executor backfill assigns
    ids at scan speed. The gate ingests the events table in TWO
    appends (odd/even halves, each multi-partition) and emits the id
    distribution's exact anchors: a correct implementation yields a
    permutation of 0..n-1 regardless of partitioning or append
    order, which DuckDB recomputes from the raw corpus count — any
    duplicate, gap, or lost row breaks an anchor and goes
    driver-red."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        "value",
    )
    lake_dir = scratch_dir("id")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.set_identity("row_id")
    tx.append(ev.filter("event_id % 2 = 0").repartition(3))
    tx.append(ev.filter("event_id % 2 = 1").repartition(2))
    snap = tx.snapshot()
    return snap.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("row_id").cast("bigint").alias("min_id"),
        F.max("row_id").cast("bigint").alias("max_id"),
        F.count_distinct("row_id").cast("bigint").alias("distinct_ids"),
    )


@register(
    "f7_generated_partition_pruning",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <= TIMESTAMP '2024-01-07 23:59:59'
    GROUP BY event_type
    """,
)
def f7_generated_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Generated-column partition pruning as a hard signal (F3
    extension, r9 — Delta's generated-column partition filters): the
    lake partitions by ``date`` GENERATED as ``to_date(ts)``, and the
    query bounds only the TIMESTAMP — the engine must derive the date
    interval itself (to_date is monotone, so [date(lo), date(hi)] is
    exact) and prune every other date directory. Asserted in-query:
    the kept file set collapses to exactly the 3 bounded dates out of
    the corpus's ~31 (a derivation regression fails the run, not just
    slows it); the oracle recomputes the filtered aggregate from raw
    events, so a wrongly-skipped partition hash-mismatches."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "ts"
    )
    lake_dir = scratch_dir("gen")
    tx = TransactionalLake(
        spark,
        lake_dir,
        partition_by=("date",),
        generated_columns={"date": "to_date(ts)"},
    )
    tx.append(ev)
    lo, hi = "2024-01-05 00:00:00", "2024-01-07 23:59:59"
    kept, total, _ = tx.prune_files({"ts": (lo, hi)})
    kept_dates = {f.split(os.sep)[0] for f in kept}
    assert kept_dates <= {
        "date=2024-01-05", "date=2024-01-06", "date=2024-01-07"
    }, kept_dates
    assert len(kept) < total, (len(kept), total)
    return (
        tx.scan_between({"ts": (lo, hi)})
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("event_id").cast("bigint").alias("min_id"),
            F.max("event_id").cast("bigint").alias("max_id"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "s20_column_mapping",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           ROUND(SUM(value), 2) AS sum_score,
           TRUE AS metadata_only,
           TRUE AS time_travel_ok
    FROM events
    WHERE NOT value < 0.1
    GROUP BY event_type
    """,
)
def s20_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping as a hard signal (S8 extension, r10 — Delta
    ``columnMapping.mode = name`` parity): RENAME COLUMN is one log
    write, zero data rewritten; data files keep physical names
    forever and reads project the log-carried logical map. The gate
    drives the full lifecycle on one lake: ingest half the corpus,
    rename ``value`` -> ``score`` (asserting in-query that the live
    FILE SET is unchanged — a rewrite masquerading as a rename fails
    the run), ingest the other half under the NEW name, DELETE
    through the new name, and time-travel back across the rename
    (asserting the old snapshot still shows ``value``). DuckDB
    recomputes the surviving aggregate from raw events — a row lost
    to a mistranslated predicate or a misprojected column
    hash-mismatches."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        "value",
    )
    lake_dir = scratch_dir("cmap")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.filter("event_id % 2 = 0").repartition(2))
    v0 = tx.version
    files_before = sorted(tx._snapshot_state()[0])
    tx.rename_column("value", "score")
    metadata_only = sorted(tx._snapshot_state()[0]) == files_before
    assert metadata_only, "rename rewrote data files"
    tx.append(
        ev.filter("event_id % 2 = 1")
        .withColumnRenamed("value", "score")
        .repartition(2)
    )
    tx.delete_where("score < 0.1")
    tt_ok = tx.snapshot(version=v0).columns == [
        "event_id", "event_type", "value",
    ]
    assert tx.snapshot().columns == ["event_id", "event_type", "score"]
    return (
        tx.snapshot()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("event_id").cast("bigint").alias("min_id"),
            F.max("event_id").cast("bigint").alias("max_id"),
            F.round(F.sum("score"), 2).alias("sum_score"),
        )
        .withColumn("metadata_only", F.lit(metadata_only))
        .withColumn("time_travel_ok", F.lit(tt_ok))
    )


@register(
    "s21_type_widening",
    oracle="""
    WITH c AS (SELECT event_id, event_type,
                      CAST(FLOOR(value * 100) AS BIGINT) AS cents
               FROM events),
    w AS (SELECT event_id, event_type,
                 CASE WHEN event_id % 2 = 1
                      THEN cents + 3000000000 ELSE cents END AS cents
          FROM c)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           TRUE AS metadata_only,
           TRUE AS narrow_before
    FROM w WHERE NOT cents % 7 = 0
    GROUP BY event_type
    """,
)
def s21_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type widening as a hard signal (S8 extension, r10 — Delta
    type-widening parity): ``widen_column_type`` is ONE log write;
    the parquet reader upcasts narrow files against the log-owned
    schema. The gate ingests half the corpus as INT cents, widens to
    BIGINT (asserting in-query that the live file set is unchanged —
    a rewrite masquerading as a widen fails the run, and that the
    pre-widen snapshot still reads int), then ingests the other half
    with values ABOVE int range (+3e9 — impossible without the
    widen), DELETEs through the widened column, and aggregates the
    mixed-era files. DuckDB recomputes from raw events — a value
    mangled by the per-file upcast, a lost row, or a type reversion
    by the late narrow files hash-mismatches."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        F.floor(F.col("value") * 100).cast("int").alias("cents"),
    )
    lake_dir = scratch_dir("widen")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.filter("event_id % 2 = 0").repartition(2))
    v0 = tx.version
    files_before = sorted(tx._snapshot_state()[0])
    tx.widen_column_type("cents", "bigint")
    metadata_only = sorted(tx._snapshot_state()[0]) == files_before
    assert metadata_only, "widen rewrote data files"
    narrow_before = (
        dict(tx.snapshot(version=v0).dtypes)["cents"] == "int"
    )
    assert dict(tx.snapshot().dtypes)["cents"] == "bigint"
    tx.append(
        ev.filter("event_id % 2 = 1")
        .select(
            "event_id",
            "event_type",
            (F.col("cents").cast("bigint") + F.lit(3_000_000_000)).alias(
                "cents"
            ),
        )
        .repartition(2)
    )
    tx.delete_where("cents % 7 = 0")
    return (
        tx.snapshot()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.min("event_id").cast("bigint").alias("min_id"),
            F.max("event_id").cast("bigint").alias("max_id"),
        )
        .withColumn("metadata_only", F.lit(metadata_only))
        .withColumn("narrow_before", F.lit(narrow_before))
    )


@register(
    "s22_row_tracking",
    oracle="""
    WITH c AS (SELECT event_id, event_type,
                      CAST(FLOOR(value * 100) AS BIGINT) AS cents
               FROM events),
    d AS (SELECT * FROM c WHERE NOT cents % 7 = 0),
    u AS (SELECT event_id, event_type,
                 CASE WHEN event_id % 10 = 0
                      THEN cents + 1 ELSE cents END AS cents
          FROM d)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           TRUE AS ids_stable,
           TRUE AS ids_unique,
           TRUE AS vers_ok
    FROM u GROUP BY event_type
    """,
)
def s22_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row tracking as a hard signal (S8 extension, r10 — Delta
    row-tracking parity): stable ``_row_id`` + ``_row_commit_version``
    per row, surviving compaction and DML. The gate ingests half the
    corpus, enables tracking (metadata-only backfill), COMPACTS and
    asserts in-query that every row keeps its (id -> event_id)
    binding through the rewrite, ingests the other half, dv-DELETEs
    and CoW-UPDATEs through it, then asserts id uniqueness and that
    exactly the updated rows carry the updating commit's version.
    DuckDB recomputes the surviving data from raw events — a row
    lost or duplicated by any id-preserving rewrite hash-mismatches,
    and the stability/uniqueness asserts fail the run loudly."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    lake_dir = scratch_dir("rowtrack")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.filter("event_id % 2 = 0").repartition(3))
    tx.enable_row_tracking()
    ids0 = tx.snapshot(with_row_ids=True).select("_row_id", "event_id")
    tx.optimize()  # the canonical id-preserving rewrite
    ids1 = tx.snapshot(with_row_ids=True).select("_row_id", "event_id")
    drift = (
        ids0.alias("a")
        .join(ids1.alias("b"), "_row_id", "full")
        .filter("a.event_id IS DISTINCT FROM b.event_id")
        .count()
    )
    ids_stable = drift == 0
    assert ids_stable, f"{drift} row ids drifted across compaction"
    tx.append(ev.filter("event_id % 2 = 1").repartition(2))
    tx.delete_where("cents % 7 = 0", mode="dv")
    v_upd = tx.update_where("event_id % 10 = 0", {"cents": "cents + 1"})
    final = tx.snapshot(with_row_ids=True).localCheckpoint(eager=False)
    # ONE aggregate job carries all three post-DML invariants (r16:
    # previously count + distinct-count + filter-count = 3 actions,
    # each a full scheduling round trip on a checkpoint-resident set)
    m = final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("_row_id").alias("n_ids"),
        F.sum(
            F.when(
                F.expr(
                    f"(event_id % 10 = 0) != (_row_commit_version = {v_upd})"
                ),
                1,
            ).otherwise(0)
        ).alias("vers_bad"),
    ).first()
    ids_unique = m["n_ids"] == m["n_rows"]
    assert ids_unique, "duplicate _row_id after DML"
    vers_ok = (m["vers_bad"] or 0) == 0
    assert vers_ok, "row_commit_version not exactly the updated rows"
    return (
        final.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .withColumn("ids_stable", F.lit(ids_stable))
        .withColumn("ids_unique", F.lit(ids_unique))
        .withColumn("vers_ok", F.lit(vers_ok))
    )


@register(
    "s23_liquid_clustering",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           ROUND(SUM(value), 2) AS sum_value,
           TRUE AS maintained_ok,
           TRUE AS incremental_ok,
           TRUE AS skipped_ok
    FROM events
    WHERE value >= 50.0 AND value <= 120.0 AND NOT event_id % 7 = 0
    GROUP BY event_type
    """,
)
def s23_liquid_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIQUID CLUSTERING as a hard signal (S8 extension, r11 — Delta
    ``CLUSTER BY`` parity): a declared clustering key plus
    INCREMENTAL maintenance. The gate drives the lifecycle on one
    lake: ingest half the corpus, ``set_clustering("value")``, run
    the first maintenance pass (asserting zero unclustered files
    remain), ingest the other half, and assert the SECOND pass
    rewrites ONLY the fresh files — the property that makes
    clustering affordable at 100 TB (steady-state cost tracks the
    ingest rate, not the table size). A dv-mode DELETE then proves
    visibility folds through without disturbing the layout, and the
    final range read must PROVABLY skip files (prune_files keeps a
    strict subset — range layout gives each file a tight value
    slice; a skipping regression fails the run). DuckDB recomputes
    the surviving aggregate from raw events — a row lost by the
    clustering rewrite or a mistranslated vector hash-mismatches."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    lake_dir = scratch_dir("lc")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.filter("event_id % 2 = 0").repartition(4))
    tx.set_clustering("value")
    tx.optimize_clustering(files_per_partition=4)
    maintained_ok = tx.clustering_info()["unclustered_files"] == 0
    assert maintained_ok, "first maintenance pass left unclustered files"
    tx.append(ev.filter("event_id % 2 = 1").repartition(4))
    live_n = len(tx._snapshot_state()[0])
    fresh = tx.clustering_info()["unclustered_files"]
    v = tx.optimize_clustering(files_per_partition=4)
    c = tx._read_commit(v)
    incremental_ok = 0 < fresh < live_n and len(c["remove"]) == fresh
    assert incremental_ok, (fresh, live_n, len(c["remove"]))
    tx.delete_where("event_id % 7 = 0", mode="dv")
    kept, total, _ = tx.prune_files({"value": (50.0, 120.0)})
    skipped_ok = len(kept) < total
    assert skipped_ok, f"clustered range read kept {len(kept)}/{total}"
    return (
        tx.scan_between({"value": (50.0, 120.0)})
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("event_id").cast("bigint").alias("min_id"),
            F.max("event_id").cast("bigint").alias("max_id"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .withColumn("maintained_ok", F.lit(maintained_ok))
        .withColumn("incremental_ok", F.lit(incremental_ok))
        .withColumn("skipped_ok", F.lit(skipped_ok))
    )


@register(
    "s24_column_defaults",
    oracle="""
    SELECT event_type,
           CASE WHEN event_id % 2 = 0 THEN 'batch' ELSE 'late' END
             AS source,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value,
           TRUE AS no_backfill_ok
    FROM events
    WHERE NOT event_id % 11 = 3
    GROUP BY event_type,
             CASE WHEN event_id % 2 = 0 THEN 'batch' ELSE 'late' END
    """,
)
def s24_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column DEFAULT values as a hard signal (S8 extension, r11 —
    Delta ``ALTER COLUMN SET DEFAULT`` parity): ingest half the
    corpus WITH an explicit ``source`` column, declare ``DEFAULT
    'late'``, then ingest the other half OMITTING the column — the
    writer materializes the default per row. The no-backfill
    contract is asserted in-query (pre-default rows keep their
    explicit value; Delta's rule that adding a default never
    rewrites history), a dv-mode DELETE exercises visibility on the
    defaulted files, and DuckDB recomputes the source split from
    raw events — a default leaking into the wrong half, or a NULL
    where the default belonged, hash-mismatches."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    lake_dir = scratch_dir("cdflt")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(
        ev.filter("event_id % 2 = 0")
        .withColumn("source", F.lit("batch"))
        .repartition(2)
    )
    tx.set_column_default("source", "'late'")
    tx.append(ev.filter("event_id % 2 = 1").repartition(2))
    tx.delete_where("event_id % 11 = 3", mode="dv")
    snap = tx.snapshot()
    # one aggregate job for both no-backfill invariants (r16: was two
    # filter-count actions, each a full re-scan of the snapshot)
    bad = snap.agg(
        F.sum(
            F.when(
                F.expr("event_id % 2 = 0 AND source != 'batch'"), 1
            ).otherwise(0)
        ).alias("leaked"),
        F.sum(
            F.when(F.col("source").isNull(), 1).otherwise(0)
        ).alias("nulls"),
    ).first()
    no_backfill_ok = (bad["leaked"] or 0) == 0 and (bad["nulls"] or 0) == 0
    assert no_backfill_ok, "default leaked into pre-default rows"
    return (
        snap.groupBy("event_type", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .withColumn("no_backfill_ok", F.lit(no_backfill_ok))
    )


@register(
    "s25_auto_compaction",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           ROUND(SUM(value), 2) AS sum_value,
           TRUE AS debt_bounded_ok,
           TRUE AS compacted_ok
    FROM events
    GROUP BY event_type
    """,
)
def s25_auto_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-compaction as a hard signal (S8 extension, r11 — Delta
    ``delta.autoOptimize.autoCompact`` parity): with the property
    on, eight single-file trickle appends must self-heal — the gate
    asserts in-query that the final live-file count stays BELOW the
    append count (the small-file debt was compacted inline) and
    that a ``compact`` commit actually ran. DuckDB recomputes the
    full-corpus aggregate — a row lost or duplicated by an inline
    compaction hash-mismatches."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    lake_dir = scratch_dir("acomp")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.filter("event_id % 8 = 0").coalesce(1))
    tx.set_properties({
        "autoCompact.enabled": "true",
        "autoCompact.minNumFiles": "4",
    })
    for i in range(1, 8):
        tx.append(ev.filter(f"event_id % 8 = {i}").coalesce(1))
    n_files = len(tx._snapshot_state()[0])
    debt_bounded_ok = n_files < 8
    compacted_ok = any(c["op"] == "compact" for c in tx.history())
    assert debt_bounded_ok, f"{n_files} live files after 8 appends"
    assert compacted_ok, "no compact commit in history"
    return (
        tx.snapshot()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("event_id").cast("bigint").alias("min_id"),
            F.max("event_id").cast("bigint").alias("max_id"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .withColumn("debt_bounded_ok", F.lit(debt_bounded_ok))
        .withColumn("compacted_ok", F.lit(compacted_ok))
    )


@register(
    "s26_analyze_stats",
    oracle="""
    SELECT * FROM (
      SELECT 'event_id' AS col,
             CAST(COUNT(*) AS BIGINT) AS rows_n,
             CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nulls,
             CAST(MIN(event_id) AS DOUBLE) AS min_val,
             CAST(MAX(event_id) AS DOUBLE) AS max_val,
             TRUE AS ndv_ok
      FROM events
      UNION ALL
      SELECT 'value',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT),
             ROUND(CAST(MIN(value) AS DOUBLE), 4),
             ROUND(CAST(MAX(value) AS DOUBLE), 4),
             TRUE
      FROM events
    ) ORDER BY col
    """,
)
def s26_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE as a hard signal (S8 extension, r11): one pass
    computes table-level column statistics (approx NDV via HLL++,
    null count, min/max) into a metadata commit; ``table_stats()``
    reads them back through checkpoints and renames. The gate
    ingests the corpus, ANALYZEs two columns, and emits the stats
    AS the result — DuckDB recomputes rows/nulls/min/max exactly
    (a drifted stat hash-mismatches) while the approximate NDV is
    gated in-query at ±5% of the exact distinct count (the
    bounded-error oracle pattern)."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    lake_dir = scratch_dir("anlz")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.repartition(4))
    tx.analyze(columns=["event_id", "value"])
    st = tx.table_stats()
    exact = (
        tx.snapshot()
        .agg(
            F.countDistinct("event_id").alias("de"),
            F.countDistinct("value").alias("dv"),
        )
        .collect()[0]
    )
    rows = []
    for col, ex in (("event_id", exact.de), ("value", exact.dv)):
        s = st["columns"][col]
        ndv_ok = abs(s["ndv"] - ex) <= max(1, int(0.05 * ex))
        assert ndv_ok, f"{col}: ndv {s['ndv']} vs exact {ex}"
        mn, mx = float(s["min"]), float(s["max"])
        if col == "value":
            mn, mx = round(mn, 4), round(mx, 4)
        rows.append((col, st["rows"], s["nulls"], mn, mx, ndv_ok))
    return local_df(spark, 
        rows,
        "col string, rows_n bigint, nulls bigint, min_val double, "
        "max_val double, ndv_ok boolean",
    ).orderBy("col")


@register(
    "s27_table_features",
    oracle="""
    SELECT * FROM (VALUES
      ('check-constraints'), ('clustering'), ('column-defaults'),
      ('column-mapping'), ('deletion-vectors'), ('identity-columns'),
      ('row-tracking'), ('type-widening')
    ) AS t(feature) ORDER BY feature
    """,
)
def s27_table_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-features protocol as a hard signal (S8 extension, r11 —
    Delta table-features parity): commits record the CUMULATIVE
    feature set; an engine build that lacks one refuses the table at
    open instead of silently corrupting results (a dv-blind reader
    resurrects deleted rows). The gate activates every protocol
    feature this build defines on one lake and emits the recorded
    set — the oracle pins it literally, so a feature that fails to
    stamp (or one that stamps under the wrong name) hash-mismatches.
    The lockout itself is exercised in-query: doctoring a commit
    with an unknown feature must make reopening raise."""
    import json as _json
    import os as _os

    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    lake_dir = scratch_dir("tfeat")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.set_identity("rid")
    # event_id ingests NARROW so the widen below is a real widening
    ev = ev.withColumn("event_id", F.col("event_id").cast("int"))
    tx.append(ev.limit(500).repartition(2))
    tx.delete_where("event_id % 5 = 0", mode="dv")
    tx.enable_row_tracking()
    tx.rename_column("value", "score")
    tx.widen_column_type("event_id", "bigint")
    tx.set_clustering("score")
    tx.set_column_default("event_type", "'unknown'")
    tx.add_check_constraint("nonneg", "event_id >= 0")
    feats = tx.table_features()
    # the lockout: an unknown feature must refuse the table
    head_v = tx.version
    head = _os.path.join(tx.log_path, f"{head_v:08d}.json")
    c = _json.load(open(head))
    doctored = dict(c)
    doctored["features"] = sorted(set(c["features"]) | {"future-x"})
    _json.dump(doctored, open(head, "w"))
    try:
        locked = False
        try:
            TransactionalLake(spark, lake_dir, partition_by=())
        except RuntimeError:
            locked = True
        assert locked, "unknown feature did not lock the table"
    finally:
        _json.dump(c, open(head, "w"))  # restore for the scan below
    return local_df(spark, 
        [(f,) for f in feats], "feature string"
    ).orderBy("feature")


@register(
    "s28_commit_checksum",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_v,
           TRUE AS verified_head, TRUE AS verified_v0,
           TRUE AS doctored_detected, TRUE AS physical_minus_dv_ok
    FROM events
    WHERE event_id % 7 <> 0 AND event_id % 11 <> 3
    """,
)
def s28_commit_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-commit checksums as a hard signal (S8 extension, r11 —
    Delta version-checksum / .crc parity): every commit leaves a
    sidecar with the table's aggregate state; ``verify_checksum``
    recomputes from the log and raises on drift. The gate ingests
    the corpus, deletes through BOTH rewrite paths (CoW + deletion
    vector), verifies the head AND the pre-delete version, proves a
    doctored row count is DETECTED (raises), and emits the logical
    table the deletes should leave — DuckDB recomputes it from the
    raw corpus, so a checksum that passes while the data drifted
    (or vice versa) diverges on one side or the other."""
    import json as _json
    import os as _os

    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    lake_dir = scratch_dir("crc")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.repartition(4))
    tx.delete_where("event_id % 7 = 0")            # CoW rewrite
    tx.delete_where("event_id % 11 = 3", mode="dv")  # merge-on-read
    head_crc = tx.verify_checksum()
    v0_crc = tx.verify_checksum(0)
    assert v0_crc["dv_deleted_rows"] == 0
    n_logical = tx.count_rows()
    physical_ok = (
        head_crc["total_rows"] - head_crc["dv_deleted_rows"]
        == n_logical
    )
    assert physical_ok, (head_crc, n_logical)
    # detection: a doctored per-file row count must fail verification
    c0_path = _os.path.join(tx.log_path, "00000000.json")
    c0 = _json.load(open(c0_path))
    doctored = _json.loads(_json.dumps(c0))
    f0 = c0["add"][0]
    doctored["rows"][f0] = c0["rows"][f0] + 1
    _json.dump(doctored, open(c0_path, "w"))
    try:
        detected = False
        try:
            tx.verify_checksum(0)
        except RuntimeError:
            detected = True
        assert detected, "doctored row count not detected"
    finally:
        _json.dump(c0, open(c0_path, "w"))
    return (
        tx.snapshot()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_v"),
        )
        .withColumn("verified_head", F.lit(True))
        .withColumn("verified_v0", F.lit(True))
        .withColumn("doctored_detected", F.lit(detected))
        .withColumn("physical_minus_dv_ok", F.lit(physical_ok))
    )


@register(
    "s29_symlink_manifest",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_v
    FROM events
    WHERE event_id % 3 <> 0
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def s29_symlink_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symlink-format manifest as a hard signal (S8 extension, r11 —
    Delta GENERATE symlink_format_manifest parity): the gate ingests
    the corpus into a partitioned lake, CoW-deletes a third of it,
    generates the manifest, then reads the table back EXCLUSIVELY
    through the manifest's file listing the way a log-unaware
    external engine would (spark.read.parquet over the listed paths,
    basePath recovering partition columns) — the aggregate must
    match DuckDB's recomputation from the raw corpus, so a manifest
    that lists a dead file, misses a live one, or survives stale
    after regeneration diverges."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    lake_dir = scratch_dir("mfst")
    tx = TransactionalLake(
        spark, lake_dir, partition_by=("event_type",)
    )
    tx.append(ev.repartition(4))
    tx.delete_where("event_id % 3 = 0")  # CoW — manifests stay legal
    tx.generate_manifest()
    paths = tx.manifest_paths()
    live, _s, _v, _dv = tx._snapshot_state()
    assert len(paths) == len(live), (len(paths), len(live))
    ext = spark.read.option("basePath", tx.path).parquet(*paths)
    return (
        ext.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_v"),
        )
        .orderBy("event_type")
    )


@register(
    "s8_merge_evolution",
    oracle="""
    WITH src AS (
      SELECT event_id AS k, 'upd' AS v, CAST(event_id % 10 AS DOUBLE) AS score
      FROM events WHERE event_id % 5 = 0
    ),
    tgt AS (
      SELECT event_id AS k, event_type AS v FROM events
    )
    SELECT COALESCE(t.k, s.k) AS k,
           COALESCE(s.v, t.v) AS v,
           s.score AS score
    FROM tgt t FULL OUTER JOIN src s ON t.k = s.k
    ORDER BY k
    """,
)
def s8_merge_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with schema evolution as a hard signal (S8 extension,
    r11 — Delta withSchemaEvolution parity): the source carries a
    column the target lacks; the merge commit evolves the schema, so
    postimages and inserts carry it while untouched rows null-fill.
    DuckDB reproduces the exact post-merge table with a FULL OUTER
    JOIN — a dropped evolved column, a nulled update, or a survivor
    that lost its row diverges."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"), F.col("event_type").alias("v")
    )
    lake_dir = scratch_dir("msev")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.repartition(4))
    src = (
        load(spark, sf_dir, "events")
        .filter("event_id % 5 = 0")
        .select(
            F.col("event_id").alias("k"),
            F.lit("upd").alias("v"),
            (F.col("event_id") % 10).cast("double").alias("score"),
        )
    )
    tx.merge(src, on="k", schema_evolution=True)
    return tx.snapshot().select("k", "v", "score").orderBy("k")


@register(
    "s30_add_column",
    oracle="""
    SELECT k, v, flag FROM (
      SELECT event_id AS k, event_type AS v, CAST(NULL AS VARCHAR) AS flag
      FROM events
      UNION ALL
      SELECT event_id + 1000000 AS k, event_type AS v, 'late' AS flag
      FROM events WHERE event_id % 4 = 0
    ) ORDER BY k
    """,
)
def s30_add_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only ADD COLUMN as a hard signal (S8 extension, r11
    — Delta ALTER TABLE ADD COLUMNS parity): one log write adds the
    column; every pre-existing file null-fills it on read and a
    later writer carries real values without merge_schema. DuckDB
    reproduces the exact post-evolution table — a resurrection, a
    dropped null-fill, or a lost late batch diverges."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"), F.col("event_type").alias("v")
    )
    lake_dir = scratch_dir("addc")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.repartition(4))
    tx.add_column("flag", "string")
    late = (
        load(spark, sf_dir, "events")
        .filter("event_id % 4 = 0")
        .select(
            (F.col("event_id") + 1000000).alias("k"),
            F.col("event_type").alias("v"),
            F.lit("late").alias("flag"),
        )
    )
    tx.append(late.repartition(2))
    return tx.snapshot().select("k", "v", "flag").orderBy("k")


@register(
    "s31_sql_utility",
    oracle="""
    WITH base AS (
      SELECT event_id AS k, event_type AS etype,
             CAST(NULL AS VARCHAR) AS flag
      FROM events
      UNION ALL
      SELECT event_id + 1000000 AS k, event_type AS etype,
             'unseen' AS flag
      FROM events WHERE event_id % 4 = 0
    ),
    upd AS (
      SELECT k, etype,
             CASE WHEN k % 9 = 0 THEN 'seen' ELSE flag END AS flag
      FROM base),
    del AS (SELECT * FROM upd WHERE NOT (k % 5 = 3)),
    src AS (
      SELECT k, 'm' AS etype, 'merged' AS flag FROM del WHERE k % 11 = 0
      UNION ALL SELECT 3000000, 'new', 'merged'),
    merged AS (
      SELECT COALESCE(d.k, s.k) AS k,
             CASE WHEN s.k IS NOT NULL THEN s.etype ELSE d.etype END AS etype,
             CASE WHEN s.k IS NOT NULL THEN s.flag ELSE d.flag END AS flag
      FROM del d FULL OUTER JOIN src s ON d.k = s.k),
    fin AS (
      SELECT * FROM merged
      UNION ALL SELECT 4000000, 'ins', 'v1'
      UNION ALL SELECT 4000001, 'ins', 'v2')
    SELECT k, etype, flag FROM fin ORDER BY k
    """,
)
def s31_sql_utility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end as a hard signal (S31, r12 — the reference's
    README-documented interface is a SQL *string*, README.md:77-81;
    Delta-SQL parity for both the utility verbs AND transactional
    DML): the ENTIRE lifecycle below runs through
    :class:`LakeSQL.sql` strings — ADD COLUMN, SET DEFAULT, RENAME
    COLUMN (activates column mapping), SET TBLPROPERTIES, OPTIMIZE
    ZORDER, ANALYZE, then UPDATE / DELETE / MERGE INTO / INSERT
    VALUES — and the final state is read back through the same
    front-end's SELECT passthrough. DuckDB reproduces the exact
    post-lifecycle table; in-query asserts pin the verbs' observable
    receipts (history operation sequence, detail version, property
    round-trip, stats freshness, VERSION AS OF time travel), so a
    verb that silently no-ops diverges even when the data happens to
    survive. Note the stack under the strings: the UPDATE/DELETE/
    MERGE here run against a column-MAPPED table (the RENAME), so
    the SQL layer inherits the _map_expr predicate translation and
    scoped-rewrite machinery for free."""
    from market_data_lakehouse_spark.sqlfront import LakeSQL
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"), F.col("event_type").alias("v")
    )
    n_events = ev.count()
    lake_dir = scratch_dir("sqlf")
    tx = TransactionalLake(spark, lake_dir, partition_by=())
    tx.append(ev.repartition(4))
    fr = LakeSQL(spark)
    fr.register("t", tx)

    fr.sql("ALTER TABLE t ADD COLUMN flag STRING")
    fr.sql("ALTER TABLE t ALTER COLUMN flag SET DEFAULT 'unseen'")
    fr.sql("ALTER TABLE t RENAME COLUMN v TO etype")
    fr.sql("ALTER TABLE t SET TBLPROPERTIES ('owner' = 'sql-front')")
    late = (
        load(spark, sf_dir, "events")
        .filter("event_id % 4 = 0")
        .select(
            (F.col("event_id") + 1000000).alias("k"),
            F.col("event_type").alias("etype"),
        )
    )
    tx.append(late.repartition(2))  # omits flag -> DEFAULT 'unseen'
    fr.sql("OPTIMIZE t ZORDER BY (k)")
    fr.sql("ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS k")
    st = tx.table_stats()
    assert st is not None and set(st["columns"]) == {"k"}, st
    assert st["version_analyzed"] == tx.version - 1, st

    # --- transactional DML, all through SQL strings ---
    fr.sql("UPDATE t SET flag = 'seen' WHERE k % 9 = 0")
    fr.sql("DELETE FROM t WHERE k % 5 = 3")
    fr.sql(
        "MERGE INTO t USING ("
        "  SELECT k, 'm' AS etype, 'merged' AS flag FROM t"
        "  WHERE k % 11 = 0"
        "  UNION ALL SELECT CAST(3000000 AS BIGINT), 'new', 'merged'"
        ") AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    fr.sql(
        "INSERT INTO t VALUES (4000000, 'ins', 'v1'), (4000001, 'ins', 'v2')"
    )

    # verb receipts: each statement's effect must be visible through
    # the DESCRIBE/SHOW surface (a silent no-op fails here)
    ops = [r["operation"] for r in fr.sql("DESCRIBE HISTORY t").collect()]
    assert ops == [
        "append", "merge", "delete", "update",
        "analyze", "compact", "append", "set_properties",
        "rename_column", "set_defaults", "add_column", "append",
    ], ops
    det = fr.sql("DESCRIBE DETAIL t").collect()[0]
    assert det["version"] == tx.version, (det["version"], tx.version)
    props = {
        r["key"]: r["value"]
        for r in fr.sql("SHOW TBLPROPERTIES t").collect()
    }
    assert props.get("owner") == "sql-front", props
    # Delta time-travel clause in SELECT: the pre-evolution snapshot
    # (and row-changing DML invalidated the ANALYZE freshness)
    n0 = fr.sql("SELECT COUNT(*) AS n FROM t VERSION AS OF 0").first()["n"]
    assert n0 == n_events, (n0, n_events)
    assert tx.stats_rowcount() is None

    return fr.sql("SELECT k, etype, flag FROM t ORDER BY k")


@register(
    "s32_copy_into_partition_delete",
    oracle="""
    WITH first_load AS (
      SELECT CAST(event_id AS BIGINT) AS k, event_type AS cat,
             value AS v
      FROM events WHERE event_id % 3 = 0
    ),
    second_load AS (
      SELECT CAST(event_id + 1000000 AS BIGINT) AS k,
             event_type AS cat, value AS v
      FROM events WHERE event_id % 3 = 1
    ),
    allrows AS (
      SELECT * FROM first_load UNION ALL SELECT * FROM second_load
    )
    SELECT k, cat, ROUND(v, 6) AS v FROM allrows
    WHERE cat <> 'error' ORDER BY k
    """,
)
def s32_copy_into_partition_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COPY INTO + metadata-only partition DELETE as one hard signal
    (r12): an incoming directory is loaded with copy_into, RE-loaded
    (must be a version-free no-op — a re-ingest would double rows and
    diverge the hash), extended with a second drop of files (only
    they load), then one partition is deleted via the metadata-only
    fast path (asserted in-query: the commit carries zero jobs'
    worth of proof, ``metadata_only``). DuckDB reproduces the final
    table from the events view — any skipped file, duplicated load,
    or wrong-partition delete diverges."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events")
    incoming = scratch_dir("cpin")
    (
        ev.filter("event_id % 3 = 0")
        .select(
            F.col("event_id").cast("long").alias("k"),
            F.col("event_type").alias("cat"),
            F.col("value").alias("v"),
        )
        .coalesce(2)
        .write.parquet(os.path.join(incoming, "drop0"))
    )
    tx = TransactionalLake(
        spark, scratch_dir("cptab"), partition_by=("cat",)
    )
    rec0 = tx.copy_into(incoming)
    if rec0["num_files_loaded"] < 1:
        raise AssertionError(f"first load empty: {rec0}")
    rec1 = tx.copy_into(incoming)  # idempotency: version-free no-op
    if rec1["num_files_loaded"] != 0 or tx.version != rec0["version"]:
        raise AssertionError(f"copy_into re-ran: {rec1}")
    (
        ev.filter("event_id % 3 = 1")
        .select(
            (F.col("event_id") + 1000000).cast("long").alias("k"),
            F.col("event_type").alias("cat"),
            F.col("value").alias("v"),
        )
        .coalesce(2)
        .write.parquet(os.path.join(incoming, "drop1"))
    )
    rec2 = tx.copy_into(incoming)  # incremental: only the new drop
    if rec2["num_files_skipped"] != rec0["num_files_loaded"]:
        raise AssertionError(f"incremental load wrong: {rec2}")
    tx.delete_where("cat = 'error'")
    if tx.history()[0].get("metadata_only") is not True:
        raise AssertionError("partition delete took the scan path")
    return (
        tx.snapshot()
        .select("k", "cat", F.round("v", 6).alias("v"))
        .orderBy("k")
    )


@register(
    "s33_convert_clone_partitions",
    oracle="""
    WITH cats AS (SELECT DISTINCT event_type AS cat FROM events)
    SELECT * FROM (
      SELECT 'clone_v0' AS origin, cat FROM cats
      UNION ALL
      SELECT 'head' AS origin, cat FROM cats WHERE cat <> 'view'
    ) ORDER BY origin, cat
    """,
)
def s33_convert_clone_partitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONVERT-in-place + versioned clone + SHOW PARTITIONS as one
    hard signal (r12): a plain hive-partitioned parquet directory is
    adopted with ONE commit (zero bytes rewritten), a partition is
    deleted via the metadata-only fast path, and a SHALLOW CLONE of
    the PRE-delete version is taken. The result is both tables'
    partition listings — the clone must still show the deleted
    partition (it is the table as it WAS), the head must not. DuckDB
    reproduces both listings from the raw distinct values; a
    mis-adopted file, a wrong-version clone, or a stale partition
    listing diverges."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events")
    raw = scratch_dir("cvraw")
    target = os.path.join(raw, "t")
    (
        ev.select(
            F.col("event_id").alias("k"),
            F.col("event_type").alias("cat"),
        )
        .coalesce(4)
        .write.partitionBy("cat")
        .parquet(target)
    )
    lake = TransactionalLake.convert(spark, target)
    if lake.version != 0 or lake.partition_by != ("cat",):
        raise AssertionError(
            f"convert: v{lake.version} layout {lake.partition_by}"
        )
    v0 = lake.version
    lake.delete_where("cat = 'view'")
    if lake.history()[0].get("metadata_only") is not True:
        raise AssertionError("partition delete took the scan path")
    clone = lake.clone(os.path.join(scratch_dir("cvcl"), "c"),
                       version=v0)
    return (
        clone.partitions()
        .select(F.lit("clone_v0").alias("origin"), "cat")
        .unionAll(
            lake.partitions().select(F.lit("head").alias("origin"), "cat")
        )
        .orderBy("origin", "cat")
    )


@register(
    "s34_sql_lifecycle2",
    oracle="""
    WITH even AS (
      SELECT CAST(event_id AS BIGINT) AS k, event_type AS cat,
             ROUND(value, 6) AS v
      FROM events WHERE event_id % 2 = 0
    ),
    replaced AS (
      SELECT * FROM even WHERE cat <> 'click'
      UNION ALL
      SELECT CAST(event_id + 2000000 AS BIGINT) AS k,
             'click' AS cat, ROUND(value, 6) AS v
      FROM events WHERE event_id % 2 = 1 AND event_type = 'click'
    ),
    crt AS (
      SELECT k, cat FROM replaced WHERE k % 3 = 0
    )
    SELECT k, cat FROM crt ORDER BY k
    """,
)
def s34_sql_lifecycle2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The late-r12 SQL verbs as one hard signal: CREATE ... AS
    SELECT -> INSERT INTO ... REPLACE WHERE (atomic predicate-scoped
    swap with Delta's source-rows-satisfy-the-predicate validation)
    -> CREATE OR REPLACE TABLE (data AND schema replaced in one
    overwrite commit, history retained — asserted in-query via
    version-0 time travel) -> TRUNCATE of a scratch table (asserted
    metadata-only in-query). DuckDB reproduces the surviving table;
    a leaked pre-replace row, a REPLACE WHERE that missed the old
    partition, or a CRT that kept the old schema diverges."""
    from market_data_lakehouse_spark.sqlfront import LakeSQL

    ev = load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("ev_src34")
    fr = LakeSQL(spark)
    loc = scratch_dir("sqlt2")
    fr.sql(
        f"CREATE TABLE t34 LOCATION '{os.path.join(loc, 't')}' AS "
        "SELECT CAST(event_id AS BIGINT) AS k, event_type AS cat, "
        "ROUND(value, 6) AS v FROM ev_src34 WHERE event_id % 2 = 0"
    )
    fr.sql(
        "INSERT INTO t34 REPLACE WHERE cat = 'click' "
        "SELECT CAST(event_id + 2000000 AS BIGINT) AS k, "
        "'click' AS cat, CAST(ROUND(value, 6) AS DOUBLE) AS v "
        "FROM ev_src34 WHERE event_id % 2 = 1 "
        "AND event_type = 'click'"
    )
    # CRT: narrower schema (v dropped), history retained
    fr.sql(
        f"CREATE OR REPLACE TABLE t34 "
        f"LOCATION '{os.path.join(loc, 't')}' AS "
        "SELECT k, cat FROM t34 WHERE k % 3 = 0"
    )
    cols = [
        r["col_name"]
        for r in fr.sql("SHOW COLUMNS IN t34").collect()
    ]
    if cols != ["k", "cat"]:
        raise AssertionError(f"CRT kept the old schema: {cols}")
    v0 = fr.sql(
        "SELECT COUNT(*) AS n FROM t34 VERSION AS OF 0"
    ).collect()[0]["n"]
    if v0 == 0:
        raise AssertionError("CRT lost history (v0 unreadable)")
    # TRUNCATE a scratch clone: metadata-only, asserted
    fr.sql(
        f"CREATE TABLE t34scratch SHALLOW CLONE t34 "
        f"LOCATION '{os.path.join(loc, 's')}'"
    )
    fr.sql("TRUNCATE TABLE t34scratch")
    sc = fr.table("t34scratch")
    if sc.history()[0]["op"] != "truncate" or sc.count_rows() != 0:
        raise AssertionError("TRUNCATE did not land metadata-only")
    return fr.sql("SELECT k, cat FROM t34 ORDER BY k")


@register(
    "s35_sql_dml2",
    oracle="""
    WITH seeded AS (
      SELECT CAST(event_id AS BIGINT) AS k, event_type AS etype,
             value AS qty
      FROM events
    ),
    -- ADD COLUMN note null-fills history; DEFAULT 'fresh' applies
    -- only to later writes that omit the column
    ins AS (
      SELECT k, etype, qty, CAST(NULL AS VARCHAR) AS note FROM seeded
      UNION ALL SELECT 5000000, 'ins', NULL, 'fresh'
      UNION ALL SELECT 5000001, 'ins2', NULL, 'fresh'
    ),
    m1src AS (
      SELECT k, 0.5 AS sqty FROM ins WHERE k % 7 = 0
      UNION ALL SELECT 6000000, 9.0
    ),
    -- matched clause conditioned on the TARGET (qty > 0.3): failing
    -- (or NULL-qty) rows stay untouched; the unmatched source row
    -- inserts via a NAMED column list (etype unnamed -> NULL)
    m1 AS (
      SELECT i.k, i.etype,
             CASE WHEN s.k IS NOT NULL AND i.qty > 0.3
                  THEN i.qty + s.sqty ELSE i.qty END AS qty,
             CASE WHEN s.k IS NOT NULL AND i.qty > 0.3 THEN (
                    CASE WHEN i.qty > 0.5 THEN 'big' ELSE 'small' END
                  ) ELSE i.note END AS note
      FROM ins i LEFT JOIN m1src s ON i.k = s.k
      UNION ALL
      SELECT s.k, CAST(NULL AS VARCHAR), s.sqty / 2, 'ins-m'
      FROM m1src s LEFT JOIN ins i ON s.k = i.k WHERE i.k IS NULL
    ),
    -- BY SOURCE UPDATE conditioned on k % 2 = 0
    m2 AS (
      SELECT k, etype, qty,
             CASE WHEN k % 3 <> 0 AND k % 2 = 0 THEN 'stale'
                  ELSE note END AS note
      FROM m1
    )
    SELECT k, etype, ROUND(qty, 6) AS qty, note FROM m2 ORDER BY k
    """,
)
def s35_sql_dml2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r13 DML grammar additions as one hard signal (VERDICT r12
    directives 3-4): NAMED-COLUMN INSERT (omitted columns take their
    declared DEFAULT, else NULL), per-column MERGE ``UPDATE SET col =
    expr`` (assigned columns evaluate against BOTH sides, unassigned
    target columns KEEP their values) gated by a CLAUSE CONDITION
    (``WHEN MATCHED AND t.qty > 0.3`` — failing or NULL-condition
    rows untouched, with a CASE WHEN inside the SET to pin the
    clause splitter), merge ``INSERT (cols) VALUES (exprs)``
    (unnamed columns NULL), and a CONDITIONED ``WHEN NOT MATCHED BY
    SOURCE THEN UPDATE SET`` (probe-scoped target-only update over
    the condition-passing rows only). DuckDB replays the exact
    lifecycle; a SET that clobbers an unassigned column, a named
    insert that misbinds positions, a condition that leaks onto
    failing rows, or a by-source sweep that touches matched rows
    diverges. In-query receipts pin the operation sequence and the
    default fill."""
    from market_data_lakehouse_spark.sqlfront import LakeSQL
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("k"),
        F.col("event_type").alias("etype"),
        F.col("value").alias("qty"),
    )
    tx = TransactionalLake(
        spark, scratch_dir("sdml2"), partition_by=()
    )
    tx.append(ev.repartition(4))
    fr = LakeSQL(spark)
    fr.register("t35", tx)
    fr.sql("ALTER TABLE t35 ADD COLUMN note STRING")
    fr.sql("ALTER TABLE t35 ALTER COLUMN note SET DEFAULT 'fresh'")
    # named-column INSERT: qty omitted -> NULL, note omitted -> DEFAULT
    fr.sql(
        "INSERT INTO t35 (k, etype) VALUES (5000000, 'ins'), "
        "(5000001, 'ins2')"
    )
    got = {
        r["k"]: (r["qty"], r["note"])
        for r in fr.sql(
            "SELECT k, qty, note FROM t35 WHERE k >= 5000000"
        ).collect()
    }
    if got != {5000000: (None, "fresh"), 5000001: (None, "fresh")}:
        raise AssertionError(f"named INSERT misbound: {got}")
    # expression MERGE over a SUBSET source: the matched clause is
    # CONDITIONED on the target (qty > 0.3; failing or NULL-qty rows
    # untouched), SET reads both sides with a CASE WHEN inside (the
    # clause splitter must not eat its THEN), unassigned columns
    # keep the target value, and the unmatched source row inserts
    # via a NAMED column list (etype unnamed -> NULL)
    fr.sql(
        "MERGE INTO t35 USING ("
        "  SELECT k, CAST(0.5 AS DOUBLE) AS qty FROM t35"
        "  WHERE k % 7 = 0"
        "  UNION ALL SELECT CAST(6000000 AS BIGINT), 9.0"
        ") AS s ON t35.k = s.k "
        "WHEN MATCHED AND t35.qty > 0.3 THEN UPDATE SET "
        "qty = t35.qty + s.qty, "
        "note = CASE WHEN t35.qty > 0.5 THEN 'big' ELSE 'small' END "
        "WHEN NOT MATCHED THEN INSERT (k, qty, note) "
        "VALUES (s.k, s.qty / 2, 'ins-m')"
    )
    # BY SOURCE UPDATE conditioned on k % 2 = 0: only even unmatched
    # target rows go stale; matched rows keep every column
    fr.sql(
        "MERGE INTO t35 USING ("
        "  SELECT k, qty FROM t35 WHERE k % 3 = 0"
        ") AS s ON t35.k = s.k "
        "WHEN MATCHED THEN UPDATE SET qty = t35.qty "
        "WHEN NOT MATCHED BY SOURCE AND k % 2 = 0 THEN "
        "UPDATE SET note = 'stale'"
    )
    ops = [
        r["operation"]
        for r in fr.sql("DESCRIBE HISTORY t35").collect()
    ][:5]
    if ops != ["merge", "merge", "append", "set_defaults",
               "add_column"]:
        raise AssertionError(f"unexpected op sequence: {ops}")
    return fr.sql(
        "SELECT k, etype, ROUND(qty, 6) AS qty, note FROM t35 "
        "ORDER BY k"
    )


@register(
    "s36_sql_dml3",
    oracle="""
    WITH seeded AS (
      SELECT CAST(event_id AS BIGINT) AS k, event_type AS etype,
             value AS qty
      FROM events
    ),
    src AS (
      SELECT DISTINCT CAST(event_id AS BIGINT) AS k,
             CAST(event_id AS BIGINT) % 2 AS flag
      FROM events WHERE CAST(event_id AS BIGINT) % 11 = 0
    ),
    -- EXISTS UPDATE: double qty where a flag=1 source row matches
    u1 AS (
      SELECT t.k, t.etype,
             CASE WHEN EXISTS (SELECT 1 FROM src s
                               WHERE s.k = t.k AND s.flag = 1)
                  THEN t.qty * 2 ELSE t.qty END AS qty
      FROM seeded t
    ),
    -- EXISTS DELETE, source-filtered (flag=0) + residual (qty>0.5);
    -- COALESCE: a NULL residual leaves the row untouched (SQL's
    -- three-valued DML guard), never deletes
    d1 AS (
      SELECT * FROM u1 t
      WHERE NOT COALESCE(
        EXISTS (SELECT 1 FROM src s
                WHERE s.k = t.k AND s.flag = 0)
        AND t.qty > 0.5, FALSE)
    ),
    -- NOT EXISTS UPDATE + residual
    u2 AS (
      SELECT k,
             CASE WHEN NOT EXISTS (SELECT 1 FROM src s
                                   WHERE s.k = d1.k)
                       AND k % 5 = 0
                  THEN 'orphan' ELSE etype END AS etype,
             qty
      FROM d1
    ),
    -- NOT EXISTS DELETE + residual
    d2 AS (
      SELECT * FROM u2 t
      WHERE NOT COALESCE(
        NOT EXISTS (SELECT 1 FROM src s WHERE s.k = t.k)
        AND t.k % 5 = 1, FALSE)
    ),
    -- scalar-subquery DELETE (uncorrelated, exact BIGINT aggregate)
    d3 AS (
      SELECT * FROM d2 t
      WHERE NOT COALESCE(
        t.k > (SELECT MAX(k) FROM src) AND t.etype = 'orphan', FALSE)
    ),
    -- scalar + EXISTS composed in one statement
    u3 AS (
      SELECT k,
             CASE WHEN EXISTS (SELECT 1 FROM src s WHERE s.k = d3.k)
                       AND k >= (SELECT MIN(k) FROM src)
                  THEN 'seen' ELSE etype END AS etype,
             qty
      FROM d3
    )
    SELECT k, etype, ROUND(qty, 6) AS qty FROM u3 ORDER BY k
    """,
)
def s36_sql_dml3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated [NOT] EXISTS subquery DML as one hard signal (r14,
    VERDICT r13 directive 4 — the sound complement of the refused
    ``NOT IN``): EXISTS decorrelates to a key-MERGE left-semi probe
    (matched clause, scoped by the source-side filter INSIDE the
    subquery and the residual outside it), NOT EXISTS to the merge
    engine's WHEN NOT MATCHED BY SOURCE (left-anti — NULL-sound
    where NOT IN is not). DuckDB replays the lifecycle with native
    correlated EXISTS; a decorrelation that drops the source-side
    filter, applies the residual to the wrong side, or sweeps
    matched rows on the anti path diverges. COALESCE in the oracle
    mirrors DML's three-valued guard: a NULL condition leaves the
    row untouched. r14 also folds in the scalar-subquery forms: an
    uncorrelated ``<expr> <cmp> (SELECT ...)`` evaluates once
    driver-side and inlines as a typed literal (exact BIGINT
    aggregates here, so no cross-engine float-threshold ties), both
    standalone (lands as a PLAIN delete — skipping intact) and
    composed with EXISTS in one statement."""
    from market_data_lakehouse_spark.sqlfront import LakeSQL
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("k"),
        F.col("event_type").alias("etype"),
        F.col("value").alias("qty"),
    )
    tx = TransactionalLake(spark, scratch_dir("sdml3"), partition_by=())
    tx.append(ev.repartition(4))
    src = TransactionalLake(
        spark, scratch_dir("sdml3_src"), partition_by=()
    )
    src.append(
        ev.filter(F.col("k") % 11 == 0)
        .select(F.col("k"), (F.col("k") % 2).alias("flag"))
        .dropDuplicates(["k"])
    )
    fr = LakeSQL(spark)
    fr.register("t36", tx)
    fr.register("t36src", src)
    fr.sql(
        "UPDATE t36 SET qty = qty * 2 WHERE EXISTS "
        "(SELECT 1 FROM t36src s WHERE s.k = t36.k AND s.flag = 1)"
    )
    fr.sql(
        "DELETE FROM t36 WHERE EXISTS (SELECT 1 FROM t36src s "
        "WHERE s.k = t36.k AND s.flag = 0) AND qty > 0.5"
    )
    fr.sql(
        "UPDATE t36 SET etype = 'orphan' WHERE NOT EXISTS "
        "(SELECT 1 FROM t36src s WHERE s.k = t36.k) AND k % 5 = 0"
    )
    fr.sql(
        "DELETE FROM t36 WHERE NOT EXISTS "
        "(SELECT 1 FROM t36src s WHERE s.k = t36.k) AND k % 5 = 1"
    )
    # scalar subquery (r14): evaluated ONCE driver-side (exact
    # BIGINT aggregate — no cross-engine float-threshold ties) and
    # inlined, so this lands as a PLAIN delete (skipping intact)
    fr.sql(
        "DELETE FROM t36 WHERE k > (SELECT max(k) FROM t36src) "
        "AND etype = 'orphan'"
    )
    # scalar + EXISTS composed in one statement: the scalar inlines
    # first, then the EXISTS decorrelates onto the merge engine
    fr.sql(
        "UPDATE t36 SET etype = 'seen' WHERE EXISTS "
        "(SELECT 1 FROM t36src s WHERE s.k = t36.k) "
        "AND k >= (SELECT min(k) FROM t36src)"
    )
    ops = [
        r["operation"]
        for r in fr.sql("DESCRIBE HISTORY t36").collect()
    ]
    if ops != ["merge", "delete", "merge", "merge", "merge", "merge",
               "append"]:
        raise AssertionError(f"unexpected op sequence: {ops}")
    return fr.sql(
        "SELECT k, etype, ROUND(qty, 6) AS qty FROM t36 ORDER BY k"
    )


@register(
    "s37_sql_dml_dv",
    oracle="""
    WITH seeded AS (
      SELECT CAST(event_id AS BIGINT) AS k, event_type AS etype,
             value AS qty
      FROM events
    ),
    src AS (
      SELECT k, 'm' AS etype, qty * 0.5 AS qty
      FROM seeded WHERE k % 11 = 0
      UNION ALL
      SELECT k + 10000000 AS k, 'new' AS etype, qty
      FROM seeded WHERE k % 11 = 5
    ),
    -- dv DELETE; COALESCE = DML's three-valued guard (NULL keeps)
    d1 AS (
      SELECT * FROM seeded
      WHERE NOT COALESCE(k % 10 = 3 AND qty < 0.5, FALSE)
    ),
    -- dv UPDATE
    u1 AS (
      SELECT k, etype,
             CASE WHEN k % 7 = 0 THEN qty * 3 ELSE qty END AS qty
      FROM d1
    ),
    -- dv MERGE: matched rows take the source columns, unmatched
    -- target rows survive, unmatched source rows insert
    m1 AS (
      SELECT t.k,
             CASE WHEN s.k IS NULL THEN t.etype ELSE s.etype END
               AS etype,
             CASE WHEN s.k IS NULL THEN t.qty ELSE s.qty END AS qty
      FROM u1 t LEFT JOIN src s ON t.k = s.k
      UNION ALL
      SELECT s.k, s.etype, s.qty FROM src s
      WHERE NOT EXISTS (SELECT 1 FROM u1 t WHERE t.k = s.k)
    )
    SELECT k, etype, ROUND(qty, 6) AS qty FROM m1 ORDER BY k
    """,
)
def s37_sql_dml_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read SQL DML as one hard signal (r15, VERDICT r14
    directive 2): a table that opts in via ``ALTER TABLE ... SET
    TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')`` runs
    its SQL DELETE/UPDATE/MERGE through the engine's deletion-vector
    modes (Delta's dv-enabled DML; reference behavior per delta-io
    PROTOCOL.md "Deletion Vectors"). The PHYSICAL invariant is
    asserted inline — the dv DELETE leaves the file set untouched
    and the dv UPDATE/MERGE never rewrite a pre-existing file (a
    silent copy-on-write fallback fails the run, not just the
    plan) — while DuckDB replays the LOGICAL lifecycle, so a dv
    read path that loses or resurrects a hidden row diverges on the
    value hash."""
    from market_data_lakehouse_spark.sqlfront import LakeSQL
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("k"),
        F.col("event_type").alias("etype"),
        F.col("value").alias("qty"),
    )
    tx = TransactionalLake(spark, scratch_dir("sdml_dv"), partition_by=())
    tx.append(ev.repartition(4))
    src = TransactionalLake(
        spark, scratch_dir("sdml_dv_src"), partition_by=()
    )
    src.append(
        ev.filter(F.col("k") % 11 == 0)
        .select("k", F.lit("m").alias("etype"),
                (F.col("qty") * 0.5).alias("qty"))
        .union(
            ev.filter(F.col("k") % 11 == 5)
            .select((F.col("k") + 10_000_000).alias("k"),
                    F.lit("new").alias("etype"), F.col("qty"))
        )
    )
    fr = LakeSQL(spark)
    fr.register("t37", tx)
    fr.register("t37src", src)
    fr.sql(
        "ALTER TABLE t37 SET TBLPROPERTIES "
        "('delta.enableDeletionVectors' = 'true')"
    )

    def _files() -> set:
        files, _, _ = tx.prune_files({})
        return set(files)

    base = _files()
    fr.sql("DELETE FROM t37 WHERE k % 10 = 3 AND qty < 0.5")
    if _files() != base:
        raise AssertionError("dv DELETE touched the file set")
    fr.sql("UPDATE t37 SET qty = qty * 3 WHERE k % 7 = 0")
    after_update = _files()
    if not base <= after_update:
        raise AssertionError("dv UPDATE rewrote a pre-existing file")
    fr.sql(
        "MERGE INTO t37 USING t37src s ON t37.k = s.k "
        "WHEN MATCHED THEN UPDATE SET etype = s.etype, qty = s.qty "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    if not after_update <= _files():
        raise AssertionError("dv MERGE rewrote a pre-existing file")
    ops = [
        r["operation"]
        for r in fr.sql("DESCRIBE HISTORY t37").collect()
    ]
    # the engine stamps merge-on-read commits with a _dv suffix —
    # the history itself is the receipt that no statement silently
    # fell back to copy-on-write
    if ops != ["merge_dv", "update_dv", "delete_dv", "set_properties",
               "append"]:
        raise AssertionError(f"unexpected op sequence: {ops}")
    return fr.sql(
        "SELECT k, etype, ROUND(qty, 6) AS qty FROM t37 ORDER BY k"
    )


@register(
    "s38_sql_dml_corr_scalar",
    oracle="""
    WITH seeded AS (
      SELECT CAST(event_id AS BIGINT) AS k,
             CAST(event_id AS BIGINT) % 50 AS g,
             event_type AS etype, value AS qty
      FROM events
    ),
    src AS (
      SELECT CAST(event_id AS BIGINT) % 50 AS j, value AS x
      FROM events
      WHERE CAST(event_id AS BIGINT) % 3 = 0
        AND CAST(event_id AS BIGINT) % 50 < 40
    ),
    -- SET-position correlated scalar: unmatched g takes the
    -- aggregate's empty-input value (NULL for MAX)
    u1 AS (
      SELECT k, g, etype,
             CASE WHEN k % 2 = 0
                  THEN (SELECT MAX(s.x) FROM src s WHERE s.j = t.g)
                  ELSE qty END AS qty
      FROM seeded t
    ),
    -- WHERE-position + residual; COALESCE = three-valued DML guard
    -- (NULL qty or unmatched g keeps the row)
    d1 AS (
      SELECT * FROM u1 t
      WHERE NOT COALESCE(
        qty > (SELECT MAX(s.x) FROM src s WHERE s.j = t.g)
        AND k % 5 != 0, FALSE)
    ),
    -- COUNT over an empty key = 0, not NULL (the decorrelation's
    -- unmatched arm must apply the empty-input value)
    u2 AS (
      SELECT k, g,
             CASE WHEN (SELECT COUNT(*) FROM src s
                        WHERE s.j = t.g) = 0
                  THEN 'lone' ELSE etype END AS etype,
             qty
      FROM d1 t
    ),
    -- correlated + uncorrelated scalar composed in one statement
    d2 AS (
      SELECT * FROM u2 t
      WHERE NOT COALESCE(
        qty <= (SELECT MIN(s.x) FROM src s WHERE s.j = t.g)
        AND qty >= (SELECT MIN(x) FROM src), FALSE)
    )
    SELECT k, g, etype, ROUND(qty, 6) AS qty FROM d2 ORDER BY k
    """,
)
def s38_sql_dml_corr_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar-subquery DML as one hard signal (r15,
    VERDICT r14 directive 3): ``SET v = (SELECT agg(x) FROM s WHERE
    s.k = t.k)`` and ``WHERE v > (SELECT agg(x) ...)`` decorrelate
    to a per-key aggregate + merge probe — matched rows compare/
    assign their key's aggregate via ``source.__scalar``, unmatched
    rows take the aggregate's EMPTY-INPUT value (NULL for MAX/MIN,
    0 for COUNT — the classic decorrelation bug class) through the
    BY SOURCE arm, which is skipped (and the statement stays
    merge-on-read-eligible) when NULL provably never satisfies the
    predicate. DuckDB replays the lifecycle with native correlated
    scalars; only EXACT aggregates (MAX/MIN/COUNT) are compared, so
    no cross-engine float-summation ties. All four statement shapes
    in one lifecycle: SET-position, WHERE-position + residual,
    COUNT-empty=0, and correlated + uncorrelated composed."""
    from market_data_lakehouse_spark.sqlfront import LakeSQL
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("k"),
        (F.col("event_id").cast("long") % 50).alias("g"),
        F.col("event_type").alias("etype"),
        F.col("value").alias("qty"),
    )
    tx = TransactionalLake(spark, scratch_dir("sdml_cs"), partition_by=())
    tx.append(ev.repartition(4))
    src = TransactionalLake(
        spark, scratch_dir("sdml_cs_src"), partition_by=()
    )
    src.append(
        ev.filter((F.col("k") % 3 == 0) & (F.col("g") < 40))
        .select(F.col("g").alias("j"), F.col("qty").alias("x"))
    )
    fr = LakeSQL(spark)
    fr.register("t38", tx)
    fr.register("t38src", src)
    fr.sql(
        "UPDATE t38 SET qty = (SELECT max(s.x) FROM t38src s "
        "WHERE s.j = t38.g) WHERE k % 2 = 0"
    )
    fr.sql(
        "DELETE FROM t38 WHERE qty > (SELECT max(s.x) FROM t38src s "
        "WHERE s.j = t38.g) AND k % 5 != 0"
    )
    fr.sql(
        "UPDATE t38 SET etype = 'lone' WHERE (SELECT count(*) "
        "FROM t38src s WHERE s.j = t38.g) = 0"
    )
    fr.sql(
        "DELETE FROM t38 WHERE qty <= (SELECT min(s.x) FROM t38src s "
        "WHERE s.j = t38.g) AND qty >= (SELECT min(x) FROM t38src)"
    )
    ops = [
        r["operation"]
        for r in fr.sql("DESCRIBE HISTORY t38").collect()
    ]
    if ops != ["merge", "merge", "merge", "merge", "append"]:
        raise AssertionError(f"unexpected op sequence: {ops}")
    return fr.sql(
        "SELECT k, g, etype, ROUND(qty, 6) AS qty FROM t38 ORDER BY k"
    )


@register(
    "s39_sql_dml_corr_in",
    oracle="""
    WITH seeded AS (
      SELECT CAST(event_id AS BIGINT) AS k,
             CAST(event_id AS BIGINT) % 37 AS g,
             CAST(event_id AS BIGINT) % 101 AS m,
             event_type AS etype, value AS qty
      FROM events
    ),
    src AS (
      SELECT CAST(event_id AS BIGINT) % 37 AS j,
             (CAST(event_id AS BIGINT) * 3) % 101 AS x
      FROM events
      WHERE CAST(event_id AS BIGINT) % 5 = 0
    ),
    -- correlated IN in UPDATE position (matched-only SET)
    u1 AS (
      SELECT k, g, m, etype,
             CASE WHEN m IN (SELECT s.x FROM src s WHERE s.j = t.g)
                  THEN qty + 1000 ELSE qty END AS qty
      FROM seeded t
    ),
    -- correlated IN in DELETE position with a source-side filter
    -- inside the subquery and a plain residual conjunct outside;
    -- COALESCE = DML's three-valued guard (UNKNOWN keeps the row)
    d1 AS (
      SELECT * FROM u1 t
      WHERE NOT COALESCE(
        m IN (SELECT s.x FROM src s WHERE s.j = t.g AND s.x > 50)
        AND k % 3 != 0, FALSE)
    ),
    -- uncorrelated IN composed on the same table (the r13 path)
    d2 AS (
      SELECT * FROM d1
      WHERE NOT COALESCE(
        g IN (SELECT s.j FROM src s WHERE s.x < 10), FALSE)
    )
    SELECT k, g, m, etype, ROUND(qty, 6) AS qty FROM d2 ORDER BY k
    """,
)
def s39_sql_dml_corr_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated IN-subquery DML as one hard signal (r16, VERDICT
    r15 directive 5): ``m IN (SELECT s.x FROM src s WHERE s.j =
    t.g)`` is EXISTS with one more correlation equality, so it
    decorrelates onto the r14/r15 key-MERGE probe — the equality
    pairs from the subquery WHERE plus the (IN-column, select-item)
    pair are the join keys; source-side filters stay inside the
    rebuilt DISTINCT key query. The matched-only arm keeps every
    statement merge-on-read-eligible, asserted inline on a
    dv-opted table: no statement may rewrite a pre-existing file
    and every history op must carry the ``_dv`` suffix. DuckDB
    replays the lifecycle through its SELECT evaluator (CASE /
    COALESCE chains), the standard three-valued reading — NULL keys
    and NULL set elements stay inert on both sides. Reference
    semantics: ANSI SQL correlated predicates, Delta subquery DML
    (delta-io SQL DELETE/UPDATE with IN subqueries)."""
    from market_data_lakehouse_spark.sqlfront import LakeSQL
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("k"),
        (F.col("event_id").cast("long") % 37).alias("g"),
        (F.col("event_id").cast("long") % 101).alias("m"),
        F.col("event_type").alias("etype"),
        F.col("value").alias("qty"),
    )
    tx = TransactionalLake(spark, scratch_dir("sdml_ci"), partition_by=())
    tx.append(ev.repartition(4))
    src = TransactionalLake(
        spark, scratch_dir("sdml_ci_src"), partition_by=()
    )
    src.append(
        ev.filter(F.col("k") % 5 == 0)
        .select(F.col("g").alias("j"),
                ((F.col("k") * 3) % 101).alias("x"))
    )
    fr = LakeSQL(spark)
    fr.register("t39", tx)
    fr.register("t39src", src)
    fr.sql(
        "ALTER TABLE t39 SET TBLPROPERTIES "
        "('delta.enableDeletionVectors' = 'true')"
    )

    def _files() -> set:
        files, _, _ = tx.prune_files({})
        return set(files)

    base = _files()
    fr.sql(
        "UPDATE t39 SET qty = qty + 1000 WHERE m IN "
        "(SELECT s.x FROM t39src s WHERE s.j = t39.g)"
    )
    after_update = _files()
    if not base <= after_update:
        raise AssertionError("corr-IN dv UPDATE rewrote a file")
    fr.sql(
        "DELETE FROM t39 WHERE m IN (SELECT s.x FROM t39src s "
        "WHERE s.j = t39.g AND s.x > 50) AND k % 3 != 0"
    )
    if _files() != after_update:
        raise AssertionError("corr-IN dv DELETE touched the file set")
    fr.sql(
        "DELETE FROM t39 WHERE g IN (SELECT s.j FROM t39src s "
        "WHERE s.x < 10)"
    )
    ops = [
        r["operation"]
        for r in fr.sql("DESCRIBE HISTORY t39").collect()
    ]
    if ops != ["merge_dv", "merge_dv", "merge_dv", "set_properties",
               "append"]:
        raise AssertionError(f"unexpected op sequence: {ops}")
    return fr.sql(
        "SELECT k, g, m, etype, ROUND(qty, 6) AS qty FROM t39 "
        "ORDER BY k"
    )

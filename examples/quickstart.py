"""Runnable tour of the engine. Usage:

    PYTHONPATH=/root/repo python examples/quickstart.py [sf_dir]

Covers: validated ingest -> query -> SQL, ACID/time-travel/CDC,
as-of join, and a couple of catalog operators on the test tables.
"""

from __future__ import annotations

import sys
import tempfile
from datetime import datetime

sys.path.insert(0, "/root/repo")

from market_data_lakehouse_spark import (
    AssetClass,
    DataLakehouse,
    OHLCVBar,
    TransactionalLake,
    asof_join,
    get_spark,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("quickstart")
    root = tempfile.mkdtemp()

    # --- core lakehouse ------------------------------------------------
    lake = DataLakehouse(spark, f"{root}/lake", dead_letter_path=f"{root}/dlq")
    bars = [
        OHLCVBar("AAPL", datetime(2024, 6, 15, 10, i), 150.0 + i, 155.0 + i,
                 149.0 + i, 153.0 + i, 1_000_000 + i, AssetClass.EQUITY)
        for i in range(30)
    ]
    bars.append(  # invalid: open above high -> dropped + counted
        OHLCVBar("AAPL", datetime(2024, 6, 15, 11, 0), 999.0, 155.0, 149.0,
                 153.0, 10, AssetClass.EQUITY)
    )
    stats = lake.ingest_batch(bars)
    print(f"ingest: {stats.rows_ingested} rows, {stats.errors} rejected")

    res = lake.query(symbol="AAPL", start="2024-06-15 10:00:00",
                     end="2024-06-15 10:10:00")
    print(f"query: {res.count} bars, scanned={res.total_rows_scanned}")

    vwap = lake.sql(
        "SELECT symbol, ROUND(SUM(close*volume)/SUM(volume), 2) AS vwap "
        "FROM bars GROUP BY symbol"
    )
    print("vwap:", vwap.collect())

    # --- ACID / time-travel / CDC -------------------------------------
    tx = TransactionalLake(spark, f"{root}/tx", partition_by=("date",))
    df = lake.table().withColumnRenamed("date", "date")
    v0 = tx.append(df)
    v1 = tx.delete_where("volume < 1000005")
    print(f"txn: v{v0} -> v{v1}; now={tx.snapshot().count()} rows, "
          f"v0={tx.snapshot(version=v0).count()} rows (time-travel)")
    # copy-on-write upsert: update one bar, insert a new symbol
    upsert = spark.createDataFrame(
        [("AAPL", datetime(2024, 6, 15, 10, 29), 1.0, 2.0, 0.5, 1.5,
          999, "equity", "2024-06-15"),
         ("TSLA", datetime(2024, 6, 15, 10, 0), 200.0, 210.0, 195.0, 205.0,
          500, "equity", "2024-06-15")],
        "symbol string, timestamp timestamp, open double, high double, "
        "low double, close double, volume long, asset_class string, "
        "date string",
    )
    from pyspark.sql import functions as F

    upsert = upsert.withColumn("date", F.to_date("date"))
    v2 = tx.merge(upsert.select(*df.columns), on=("symbol", "timestamp"))
    print(f"merge: v{v2}, now={tx.snapshot().count()} rows")
    # in-place DML: both rewrite only the files containing a match
    tx.update_where("symbol = 'TSLA'", {"volume": "volume * 2"})
    tx.delete_where("symbol = 'TSLA' AND volume < 0")  # no-op here
    # merge-on-read twins: ONE commit records a deletion vector for
    # the matched rows and appends the postimages — no existing file
    # is touched, cost is O(matched rows) at any file size
    tx.update_where("symbol = 'AAPL'", {"volume": "volume + 1"}, mode="dv")
    tx.delete_where("symbol = 'TSLA'", mode="dv")
    # scoped maintenance: bin-pack only this partition's small files
    # (and materialize its vectors); everything else is untouched
    tx.optimize(where={"date": ("2024-06-15", "2024-06-15")})
    # metadata-only rollback: undo everything since the merge —
    # works across deletion vectors (the commit reconciles them)
    tx.restore(version=v2)
    # CHECK constraint: validated now, enforced on every future write
    tx.add_check_constraint("ohlc_pos", "low > 0 AND high >= low")
    print("constraints:", tx.check_constraints())
    print("cdc ops:", [h["op"] for h in tx.history()])
    # ROW TRACKING (r10): stable per-row ids that survive compaction
    # and copy-on-write DML — enabling on a populated table is
    # metadata-only; the CDC feed can carry the same lineage
    tx.enable_row_tracking()
    ids = tx.snapshot(with_row_ids=True)
    print("row ids:", ids.select("_row_id").distinct().count(),
          "unique of", ids.count())
    # CONVERT-in-place (r10): adopt a plain parquet directory as a
    # transactional table — one commit, zero bytes rewritten
    raw_dir = f"{root}/raw_parquet"
    df.limit(50).write.partitionBy("date").parquet(raw_dir)
    adopted = TransactionalLake.convert(spark, raw_dir)
    print("converted:", adopted.count_rows(), "rows,",
          "layout", adopted.partition_by,
          "| would-vacuum:", len(adopted.vacuum(dry_run=True)))
    # LIQUID CLUSTERING (r11): declare a key, maintain incrementally —
    # each pass rewrites only files not already clustered, range-
    # laid-out so per-file stats skip narrow range reads
    tx.set_clustering("close")
    tx.optimize_clustering()
    print("clustering:", tx.clustering_info())
    # COLUMN DEFAULTS (r11): batches omitting the column write the
    # default (existing rows are never backfilled)
    tx.set_column_default("volume", "0")
    # AUTO-COMPACTION (r11): small-file debt self-heals inline after
    # writes once the property is on
    tx.set_properties({"autoCompact.enabled": "true",
                       "autoCompact.minNumFiles": "16"})

    # --- as-of join ----------------------------------------------------
    trades = spark.createDataFrame(
        [("AAPL", datetime(2024, 6, 15, 10, 5, 30), 100.0)],
        "symbol string, ts timestamp, qty double",
    )
    quotes = lake.table().selectExpr(
        "symbol", "timestamp AS ts", "close AS quote_px"
    )
    enriched = asof_join(trades, quotes, on="symbol")
    print("asof:", enriched.collect())

    # --- incremental materialized view over the CDC feed ---------------
    # the state is itself a TransactionalLake, and a refresh MERGEs the
    # folded delta into it. VWAP is a ratio of two maintained sums: the
    # tick lake generates notional = price * volume on every write
    from market_data_lakehouse_spark.mv import IncrementalAggView

    tick_lake = TransactionalLake(
        spark, f"{root}/ticks", partition_by=(),
        generated_columns={"notional": "price * volume"},
    )
    tick_lake.append(spark.createDataFrame(
        [("AAPL", 100.0, 10), ("AAPL", 110.0, 10)],
        "symbol string, price double, volume long",
    ))
    agg = IncrementalAggView(
        spark, tick_lake, f"{root}/tick_agg",
        group_by=["symbol"], sum_cols=["notional", "volume"],
    )
    agg.refresh()
    tick_lake.append(
        spark.createDataFrame(
            [("MSFT", 300.0, 5)], "symbol string, price double, volume long"
        )
    )
    agg.refresh()  # folds ONLY the new commit
    print("incremental vwap:", sorted(
        (r.symbol, r.n_rows, r.sum_volume, r.vwap)
        for r in agg.view().withColumn(
            "vwap", F.try_divide("sum_notional", "sum_volume")
        ).collect()
    ))

    # --- stats-in-log file skipping ------------------------------------
    # every commit records per-file column min/max; scan_between drops
    # provably-unmatchable files before Spark lists them
    kept, total, _ = tx.prune_files({"volume": (1_000_005, None)})
    hot = tx.scan_between({"volume": (1_000_005, None)}).count()
    print(f"skipping: scanned {len(kept)}/{total} files -> {hot} rows")

    # --- custom Python data source + UDTF + SQL catalog ---------------
    from market_data_lakehouse_spark.pysource import register_tick_source
    from market_data_lakehouse_spark.sql_catalog import (
        register_tables,
        register_views,
    )
    from market_data_lakehouse_spark.udtfs import register_udtfs

    register_tick_source(spark)
    synth = (
        spark.read.format("synthetic_ticks")
        .option("symbols", "AAPL,MSFT")
        .option("ticks", 100)
        .load()
    )
    print("synthetic_ticks:", synth.count(), "rows,",
          synth.rdd.getNumPartitions(), "partitions")
    register_udtfs(spark)
    register_tables(spark, sf_dir)
    register_views(spark, sf_dir, ["a2_vwap_top10"])
    chunks = spark.sql(
        "SELECT COUNT(*) AS n FROM documents d, "
        "LATERAL chunk_text(d.text, 16, 4) c"
    ).first().n
    top = spark.sql("SELECT * FROM q_a2_vwap_top10 LIMIT 1").collect()
    print(f"udtf chunks: {chunks}; sql-catalog top vwap: {top}")

    # --- catalog operators on the shared test tables -------------------
    from market_data_lakehouse_spark.queries import REGISTRY

    for name in (
        "a2_vwap_top10",            # flagship aggregate
        "w7_returns_vol",           # log-returns + realized volatility
        "w8_max_drawdown",          # running-peak drawdown
        "e1_exact_dedup",           # hash dedup
        "e1_decontaminate",         # train/eval fingerprint decontamination
        "e1_contamination_ngram",   # partial-inclusion n-gram overlap
        "e2_lsh_verified_jaccard",  # LSH candidates -> exact verify
        "e2_dedup_clusters",        # pairs -> connected components -> keep-one
        "e3_knn_bruteforce",        # exact cosine top-k
        "e3_ann_recall",            # measured recall of the LSH index
        "e4_repetition_score",      # Gopher-style repetition quality
        "w6_sessionize",            # gaps-and-islands sessions
        "e6_hash_split",            # deterministic train/val/test split
        "e6_temperature_mix",       # alpha=0.5 mixture rebalance
        "e6_token_shards_partitioned",  # parallel token-budget shards
        "e7_pack_sequences",        # concat-and-chunk context windows
        "j11_shipping_priority",    # TPC-H Q3 shape
        "j12_regional_revenue",     # TPC-H Q5 shape (6-table star join)
        "a14_big_orders",           # TPC-H Q18 shape (HAVING semi-join)
        "w10_rank_distributions",   # ntile / percent_rank / cume_dist
        "e4_bm25_search",           # BM25 keyword ranking
        "e2_semantic_dedup",        # SemDeDup cluster-cosine dedup
        "v5_drift_psi",             # PSI distribution drift
    ):
        out = REGISTRY[name].fn(spark, sf_dir)
        print(f"{name}: {out.count()} rows")


if __name__ == "__main__":
    main()

"""Structured Streaming: micro-batch ingest, windowed bars,
session windows, streaming dedup (SURVEY §2.10 S9/T1-T5)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from market_data_lakehouse_spark.lakehouse import DataLakehouse
from market_data_lakehouse_spark.streaming import (
    read_bar_stream,
    read_tick_stream,
    stream_ingest,
    streaming_dedup,
    streaming_ohlcv_bars,
    streaming_session_windows,
)


def _write_json(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _tick(ts, symbol="AAPL", price=150.0, volume=100):
    return {"ts": ts, "symbol": symbol, "price": price, "volume": volume}


def _bar(ts, symbol="AAPL", o=150.0, h=155.0, lo=149.0, c=153.0, v=1000):
    return {
        "symbol": symbol,
        "timestamp": ts,
        "open": o,
        "high": h,
        "low": lo,
        "close": c,
        "volume": v,
        "asset_class": "equity",
    }


class TestStreamIngest:
    def test_micro_batch_ingest_with_validation(self, spark, tmp_path):
        src = str(tmp_path / "src")
        _write_json(
            src + "/batch0.json",
            [
                _bar("2024-06-15T10:00:00"),
                _bar("2024-06-15T11:00:00", symbol="GOOGL"),
                _bar("2024-06-16T09:00:00", o=200.0),  # open > high: invalid
            ],
        )
        lake = DataLakehouse(
            spark, str(tmp_path / "lake"), dead_letter_path=str(tmp_path / "dlq")
        )
        q = stream_ingest(
            read_bar_stream(spark, src),
            lake,
            checkpoint_dir=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
        result = lake.query()
        assert len(result.bars) == 2  # invalid row dropped
        assert spark.read.parquet(str(tmp_path / "dlq")).count() == 1

    def test_incremental_batches_are_exactly_once(self, spark, tmp_path):
        src = str(tmp_path / "src")
        lake = DataLakehouse(spark, str(tmp_path / "lake"))
        _write_json(src + "/b0.json", [_bar("2024-06-15T10:00:00")])
        q = stream_ingest(
            read_bar_stream(spark, src), lake, str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
        # second file arrives; checkpoint means b0 is not re-ingested
        _write_json(src + "/b1.json", [_bar("2024-06-15T11:00:00")])
        q = stream_ingest(
            read_bar_stream(spark, src), lake, str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
        assert lake.query().df.count() == 2


class TestStreamingBars:
    def _run(self, spark, tmp_path, fn, name):
        out = fn.writeStream.format("memory").queryName(name).outputMode(
            "append"
        ).option("checkpointLocation", str(tmp_path / f"ck_{name}")).trigger(
            availableNow=True
        ).start()
        out.awaitTermination(120)
        return spark.sql(f"SELECT * FROM {name}")

    def test_tumbling_window_ohlcv(self, spark, tmp_path):
        src = str(tmp_path / "ticks")
        _write_json(
            src + "/t0.json",
            [
                _tick("2024-06-15T10:00:05", price=100.0, volume=10),
                _tick("2024-06-15T10:00:20", price=105.0, volume=20),
                _tick("2024-06-15T10:00:40", price=95.0, volume=30),
                _tick("2024-06-15T10:00:55", price=102.0, volume=40),
                # next window
                _tick("2024-06-15T10:01:10", price=200.0, volume=5),
                # watermark pusher so earlier windows finalize
                _tick("2024-06-15T11:00:00", price=1.0, volume=1),
            ],
        )
        bars = streaming_ohlcv_bars(
            read_tick_stream(spark, src), window="1 minute", watermark="5 minutes"
        )
        df = self._run(spark, tmp_path, bars, "bars_t")
        row = df.filter(F.col("bar_start") == "2024-06-15 10:00:00").collect()[0]
        assert (row["open"], row["high"], row["low"], row["close"]) == (
            100.0,
            105.0,
            95.0,
            102.0,
        )
        assert row["volume"] == 100 and row["n_ticks"] == 4

    def test_session_windows(self, spark, tmp_path):
        src = str(tmp_path / "ticks")
        _write_json(
            src + "/t0.json",
            [
                _tick("2024-06-15T10:00:00"),
                _tick("2024-06-15T10:10:00"),  # same session (gap 30m)
                _tick("2024-06-15T12:00:00"),  # new session
                _tick("2024-06-15T14:00:00", symbol="W", price=1.0),  # watermark
            ],
        )
        sess = streaming_session_windows(
            read_tick_stream(spark, src), gap="30 minutes", watermark="1 minute"
        )
        df = self._run(spark, tmp_path, sess, "sessions_t")
        aapl = df.filter(F.col("symbol") == "AAPL")
        assert aapl.count() == 2
        assert sorted(r["n_ticks"] for r in aapl.collect()) == [1, 2]

    def test_stateful_running_vwap(self, spark, tmp_path):
        """State must persist ACROSS micro-batches: two files forced
        into separate batches (maxFilesPerTrigger=1); the second
        batch's output must include the first batch's volume."""
        from market_data_lakehouse_spark.streaming import streaming_running_vwap
        from market_data_lakehouse_spark.schema import TICK_SCHEMA

        src = str(tmp_path / "ticks")
        _write_json(src + "/a.json", [_tick("2024-06-15T10:00:00", price=100.0, volume=10)])
        _write_json(src + "/b.json", [_tick("2024-06-15T10:01:00", price=200.0, volume=10)])
        stream = (
            spark.readStream.schema(TICK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = (
            streaming_running_vwap(stream)
            .writeStream.format("memory")
            .queryName("vwap_t")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck_vwap"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(
            "SELECT * FROM vwap_t ORDER BY total_volume"
        ).collect()
        # one output row per batch; the final one aggregates history
        assert rows[-1]["total_volume"] == 20
        assert rows[-1]["vwap"] == pytest.approx(150.0)

    def test_streaming_dedup(self, spark, tmp_path):
        src = str(tmp_path / "ticks")
        _write_json(
            src + "/t0.json",
            [
                _tick("2024-06-15T10:00:00", price=100.0),
                _tick("2024-06-15T10:00:00", price=100.0),  # duplicate
                _tick("2024-06-15T10:00:30", price=101.0),
            ],
        )
        dd = streaming_dedup(read_tick_stream(spark, src), keys=["symbol", "ts"])
        df = self._run(spark, tmp_path, dd, "dedup_t")
        assert df.count() == 2


class TestStreamUpsert:
    def test_cdc_apply_updates_and_inserts(self, spark, tmp_path):
        """Two drained batches through the MERGE sink: the second
        updates AAPL's price (same key) and inserts MSFT — the lake
        must hold exactly one row per key with the latest values, and
        in-batch duplicate keys must deterministically keep-max."""
        from market_data_lakehouse_spark.streaming import stream_upsert
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        src = str(tmp_path / "src")
        lake = TransactionalLake(spark, str(tmp_path / "tx"), partition_by=())
        _write_json(
            src + "/b0.json",
            [
                _tick("2024-06-15T10:00:00", price=100.0),
                _tick("2024-06-15T10:00:00", price=105.0),  # in-batch dup
            ],
        )
        q = stream_upsert(
            read_tick_stream(spark, src), lake, on=("symbol", "ts"),
            checkpoint_dir=str(tmp_path / "ckpt"), app_id="cdc-apply",
            available_now=True,
        )
        q.awaitTermination(120)
        got = {(r.symbol, r.price) for r in lake.snapshot().collect()}
        assert got == {("AAPL", 105.0)}  # keep-max dedup within batch
        _write_json(
            src + "/b1.json",
            [
                _tick("2024-06-15T10:00:00", price=110.0),  # update
                _tick("2024-06-15T10:00:00", symbol="MSFT", price=300.0),
            ],
        )
        q = stream_upsert(
            read_tick_stream(spark, src), lake, on=("symbol", "ts"),
            checkpoint_dir=str(tmp_path / "ckpt"), app_id="cdc-apply",
            available_now=True,
        )
        q.awaitTermination(120)
        got = {(r.symbol, r.price) for r in lake.snapshot().collect()}
        assert got == {("AAPL", 110.0), ("MSFT", 300.0)}
        # replaying against a FRESH checkpoint with the SAME explicit
        # app_id reuses (app_id, batch_id) -> merge skipped, state
        # stable (a default app_id is per-checkpoint, so an unrelated
        # stream never collides into this replay domain)
        v_before = lake.version
        q = stream_upsert(
            read_tick_stream(spark, src), lake, on=("symbol", "ts"),
            checkpoint_dir=str(tmp_path / "ckpt2"), app_id="cdc-apply",
            available_now=True,
        )
        q.awaitTermination(120)
        assert lake.version == v_before  # idempotent replay
        got = {(r.symbol, r.price) for r in lake.snapshot().collect()}
        assert got == {("AAPL", 110.0), ("MSFT", 300.0)}


    def test_dv_mode_upsert_never_rewrites_files(self, spark, tmp_path):
        """mode='dv' routes every micro-batch through the merge-on-
        read MERGE: after two drained batches the table state matches
        the rewrite sink's, and the first batch's data files are
        byte-untouched on disk (only vectors + postimage files were
        added)."""
        from market_data_lakehouse_spark.streaming import stream_upsert
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        src = str(tmp_path / "src")
        lake = TransactionalLake(spark, str(tmp_path / "tx"), partition_by=())
        _write_json(
            src + "/b0.json",
            [
                _tick("2024-06-15T10:00:00", price=100.0),
                _tick("2024-06-15T10:01:00", symbol="MSFT", price=300.0),
            ],
        )
        q = stream_upsert(
            read_tick_stream(spark, src), lake, on=("symbol", "ts"),
            checkpoint_dir=str(tmp_path / "ckpt"), app_id="dv-apply",
            available_now=True, mode="dv",
        )
        q.awaitTermination(120)
        files_b0, _, _ = lake.prune_files({})
        _write_json(
            src + "/b1.json",
            [
                _tick("2024-06-15T10:00:00", price=110.0),  # update
                _tick("2024-06-15T10:02:00", symbol="GOOG", price=9.0),
            ],
        )
        q = stream_upsert(
            read_tick_stream(spark, src), lake, on=("symbol", "ts"),
            checkpoint_dir=str(tmp_path / "ckpt"), app_id="dv-apply",
            available_now=True, mode="dv",
        )
        q.awaitTermination(120)
        files_b1, _, _ = lake.prune_files({})
        assert set(files_b0) <= set(files_b1)  # nothing rewritten
        assert lake.detail()["num_deletion_vectors"] >= 1
        got = {(r.symbol, r.price) for r in lake.snapshot().collect()}
        assert got == {
            ("AAPL", 110.0), ("MSFT", 300.0), ("GOOG", 9.0),
        }

    def test_all_key_columns_falls_back_to_drop_duplicates(
        self, spark, tmp_path
    ):
        """A stream whose every column is a merge key has nothing to
        keep-max over (F.struct() with zero fields raises); the sink
        must dedup on the keys directly."""
        from market_data_lakehouse_spark.streaming import stream_upsert
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        src = str(tmp_path / "src")
        lake = TransactionalLake(spark, str(tmp_path / "tx"), partition_by=())
        _write_json(
            src + "/b0.json",
            [
                _tick("2024-06-15T10:00:00", price=100.0),
                _tick("2024-06-15T10:00:00", price=100.0),  # exact dup
                _tick("2024-06-15T10:00:01", price=101.0),
            ],
        )
        stream = read_tick_stream(spark, src).select("symbol", "ts", "price")
        q = stream_upsert(
            stream, lake, on=("symbol", "ts", "price"),
            checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
        )
        q.awaitTermination(120)
        got = {(r.symbol, r.price) for r in lake.snapshot().collect()}
        assert got == {("AAPL", 100.0), ("AAPL", 101.0)}


class TestStreamBatchEquivalence:
    """Golden-output signal for the streaming layer: the streaming
    plans must produce byte-identical results to their batch twins on
    the same input — not just plausible shapes. (availableNow drains
    the whole input, and no tick is later than the watermark horizon
    at drain time, so finalized state covers every window.)"""

    def test_streaming_ohlcv_equals_batch_ohlcv(self, spark, tmp_path):
        """complete output mode: the FULL windowed state at drain time
        must equal the batch aggregation over the same files (append
        mode would emit only watermark-finalized windows — none here,
        since no tick arrives 10 min past the last window)."""
        from market_data_lakehouse_spark.schema import TICK_SCHEMA

        src = str(tmp_path / "ticks")
        rows = [
            _tick("2024-06-15T10:00:05", price=100.0, volume=10),
            _tick("2024-06-15T10:00:20", price=105.0, volume=20),
            _tick("2024-06-15T10:00:40", price=95.0, volume=30),
            _tick("2024-06-15T10:00:55", price=102.0, volume=40),
            _tick("2024-06-15T10:01:10", price=101.0, volume=50),
            _tick("2024-06-15T10:00:30", symbol="MSFT", price=300.0),
            _tick("2024-06-15T10:00:31", symbol="MSFT", price=299.5),
        ]
        # two files so the drain spans micro-batches with carried state
        _write_json(src + "/t0.json", rows[:4])
        _write_json(src + "/t1.json", rows[4:])
        q = (
            streaming_ohlcv_bars(read_tick_stream(spark, src))
            .writeStream.format("memory").queryName("eq_bars")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ck_eq"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        streamed = spark.sql("SELECT * FROM eq_bars")
        batch = streaming_ohlcv_bars(
            spark.read.schema(TICK_SCHEMA).json(src)
        )
        key = ["symbol", "bar_start"]
        assert sorted(map(tuple, streamed.collect())) == sorted(
            map(tuple, batch.collect())
        )
        assert streamed.select(*key).distinct().count() == streamed.count()

    def test_stream_upsert_equals_batch_merge(self, spark, tmp_path):
        """The foreachBatch MERGE sink, drained over the same rows as
        one batch merge (same keep-max in-batch dedup), must land the
        identical table state."""
        from market_data_lakehouse_spark.schema import TICK_SCHEMA
        from market_data_lakehouse_spark.streaming import stream_upsert
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        src = str(tmp_path / "src")
        rows = [
            _tick("2024-06-15T10:00:00", price=100.0),
            _tick("2024-06-15T10:00:00", price=105.0),  # in-batch dup
            _tick("2024-06-15T10:00:01", price=101.0),
            _tick("2024-06-15T10:00:00", symbol="MSFT", price=300.0),
        ]
        _write_json(src + "/b0.json", rows)
        base = spark.createDataFrame(
            [("AAPL", "2024-06-15T10:00:00", 1.0, 1),
             ("GOOG", "2024-06-15T09:00:00", 9.0, 9)],
            "symbol string, ts string, price double, volume long",
        ).withColumn("ts", F.to_timestamp("ts"))

        s_lake = TransactionalLake(spark, str(tmp_path / "s_tx"), partition_by=())
        b_lake = TransactionalLake(spark, str(tmp_path / "b_tx"), partition_by=())
        s_lake.append(base)
        b_lake.append(base)

        q = stream_upsert(
            read_tick_stream(spark, src), s_lake, on=("symbol", "ts"),
            checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
        )
        q.awaitTermination(120)

        batch_df = spark.read.schema(TICK_SCHEMA).json(src)
        cols = [c for c in batch_df.columns if c not in ("symbol", "ts")]
        deduped = batch_df.groupBy("symbol", "ts").agg(
            F.max(F.struct(*cols)).alias("_r")
        ).select("symbol", "ts", *[F.col(f"_r.{c}").alias(c) for c in cols])
        b_lake.merge(deduped, on=("symbol", "ts"), validate_keys=False)

        assert sorted(map(tuple, s_lake.snapshot().collect())) == sorted(
            map(tuple, b_lake.snapshot().collect())
        )


class TestStreamToView:
    def test_stream_feeds_lake_feeds_incremental_view(self, spark, tmp_path):
        """The full consumption chain: file stream -> exactly-once
        ACID append (generating ``notional``) -> CDC feed ->
        incremental VWAP view. Each drained run refreshes the view
        from only the new commits; state always equals a full
        recompute over the lake."""
        from market_data_lakehouse_spark.mv import IncrementalAggView
        from market_data_lakehouse_spark.streaming import (
            stream_ingest_transactional,
        )
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        src = str(tmp_path / "src")
        lake = TransactionalLake(
            spark, str(tmp_path / "tx"), partition_by=(),
            generated_columns={"notional": "price * volume"},
        )
        view = IncrementalAggView(
            spark, lake, str(tmp_path / "view"), group_by=["symbol"],
            sum_cols=["notional", "volume"],
        )

        def vwap():
            return {
                r.symbol: (r.sum_notional / r.sum_volume, r.sum_volume)
                for r in view.view().collect()
            }

        _write_json(src + "/b0.json", [
            _tick("2024-06-15T10:00:00", price=100.0, volume=10),
            _tick("2024-06-15T10:00:01", price=110.0, volume=10),
        ])
        stream = read_tick_stream(spark, src).select(
            "symbol", "ts", "price", "volume"
        ).withColumnRenamed("ts", "timestamp")
        q = stream_ingest_transactional(
            stream, lake, checkpoint_dir=str(tmp_path / "ck"),
            available_now=True,
        )
        q.awaitTermination(120)
        view.refresh()
        assert vwap() == {"AAPL": (105.0, 20)}
        # second file -> second drain -> incremental fold only
        _write_json(src + "/b1.json", [
            _tick("2024-06-15T10:00:02", price=130.0, volume=20),
            _tick("2024-06-15T10:00:00", symbol="MSFT", price=300.0,
                  volume=5),
        ])
        q = stream_ingest_transactional(
            read_tick_stream(spark, src).select(
                "symbol", "ts", "price", "volume"
            ).withColumnRenamed("ts", "timestamp"),
            lake, checkpoint_dir=str(tmp_path / "ck"), available_now=True,
        )
        q.awaitTermination(120)
        folded_before = view.last_folded_version
        view.refresh()
        assert view.last_folded_version > folded_before
        got = vwap()
        assert got["MSFT"] == (300.0, 5)
        assert got["AAPL"] == (117.5, 40)


class TestStreamStreamJoin:
    def test_interval_join_enriches_ticks_with_quotes(self, spark, tmp_path):
        """Stream-stream PIT enrichment: each tick pairs with the
        quotes for its symbol from the preceding tolerance window;
        a tick on a quiet book still emits with NULL bid/ask (left
        outer within watermark)."""
        from market_data_lakehouse_spark.schema import QUOTE_SCHEMA, TICK_SCHEMA
        from market_data_lakehouse_spark.streaming import streaming_enrich_ticks

        tsrc, qsrc = str(tmp_path / "ticks"), str(tmp_path / "quotes")
        _write_json(tsrc + "/t0.json", [
            _tick("2024-06-15T10:02:00"),                      # has 2 quotes in window
            _tick("2024-06-15T10:30:00", symbol="GOOGL"),      # quiet book
        ])
        _write_json(qsrc + "/q0.json", [
            {"ts": "2024-06-15T10:00:00", "symbol": "AAPL", "bid": 149.0, "ask": 151.0},
            {"ts": "2024-06-15T10:01:00", "symbol": "AAPL", "bid": 149.5, "ask": 151.5},
            {"ts": "2024-06-15T09:00:00", "symbol": "AAPL", "bid": 1.0, "ask": 2.0},  # stale
            # watermark movers: far-future events close both sides
            {"ts": "2024-06-15T13:00:00", "symbol": "ZZZ", "bid": 0.0, "ask": 0.0},
        ])
        _write_json(tsrc + "/t1.json", [_tick("2024-06-15T13:00:00", symbol="ZZZ")])
        ticks = spark.readStream.schema(TICK_SCHEMA).json(tsrc)
        quotes = spark.readStream.schema(QUOTE_SCHEMA).json(qsrc)
        out = streaming_enrich_ticks(ticks, quotes, tolerance="5 minutes",
                                     watermark="1 minute")
        sink = str(tmp_path / "out")
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        # second pass lets the watermark (advanced by the 13:00 events)
        # finalize the left-outer NULL rows
        q = (streaming_enrich_ticks(
                spark.readStream.schema(TICK_SCHEMA).json(tsrc),
                spark.readStream.schema(QUOTE_SCHEMA).json(qsrc),
                tolerance="5 minutes", watermark="1 minute")
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.read.parquet(sink)
        aapl = got.filter("symbol = 'AAPL'").orderBy("quote_ts").collect()
        # both in-window quotes matched; the 09:00 stale one did not
        assert [r.bid for r in aapl] == [149.0, 149.5]
        googl = got.filter("symbol = 'GOOGL'").collect()
        assert len(googl) == 1 and googl[0].bid is None  # quiet book kept


class TestStreamStaticJoin:
    def test_static_stats_flag_streaming_anomalies(self, spark, tmp_path):
        """Stream-static join: the live stream is scored against a
        static baseline with zero streaming state; symbols missing
        from the baseline still flow (z NULL, not flagged)."""
        from market_data_lakehouse_spark.schema import TICK_SCHEMA
        from market_data_lakehouse_spark.streaming import (
            streaming_flag_anomalies,
        )

        src = str(tmp_path / "ticks")
        _write_json(src + "/t0.json", [
            _tick("2024-06-15T10:00:00", price=150.0),        # z = 0
            _tick("2024-06-15T10:01:00", price=190.0),        # z = 4 -> flag
            _tick("2024-06-15T10:02:00", symbol="NEWCO", price=7.0),  # no stats
        ])
        stats = spark.createDataFrame(
            [("AAPL", 150.0, 10.0)], "symbol string, mu double, sigma double"
        )
        ticks = spark.readStream.schema(TICK_SCHEMA).json(src)
        out = streaming_flag_anomalies(ticks, stats, z_threshold=3.0)
        assert out.isStreaming
        sink = str(tmp_path / "out")
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r.price: r for r in spark.read.parquet(sink).collect()}
        assert got[150.0].z == 0.0 and not got[150.0].is_anomaly
        assert got[190.0].z == 4.0 and got[190.0].is_anomaly
        assert got[7.0].z is None and not got[7.0].is_anomaly


class TestCorpusStreaming:
    """The streaming layer applied to the documents domain: JSONL
    file-arrival ingest, running corpus stats, exactly-once dedup
    upsert into a corpus lake."""

    def test_streaming_corpus_stats_equal_batch(self, spark, tmp_path):
        from market_data_lakehouse_spark.streaming import (
            read_document_stream,
            streaming_corpus_stats,
        )

        src = str(tmp_path / "drops")
        batch = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        batch.coalesce(2).write.mode("overwrite").json(src)
        q = (
            streaming_corpus_stats(read_document_stream(spark, src))
            .writeStream.format("memory")
            .queryName("corpus_stats")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r.source: (r.n_docs, r.n_tokens)
            for r in spark.sql("SELECT * FROM corpus_stats").collect()
        }
        want = {
            r.source: (r.n_docs, r.n_tokens)
            for r in streaming_corpus_stats(batch).collect()
        }
        assert got == want

    def test_exactly_once_corpus_upsert(self, spark, tmp_path):
        from market_data_lakehouse_spark.streaming import (
            read_document_stream,
            stream_upsert,
        )
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        src = str(tmp_path / "drops")
        batch = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        n = batch.count()
        batch.coalesce(1).write.mode("overwrite").json(src)
        lake = TransactionalLake(
            spark, str(tmp_path / "corpus"), partition_by=("source",)
        )
        q = stream_upsert(
            read_document_stream(spark, src),
            lake,
            on="doc_id",
            checkpoint_dir=str(tmp_path / "ck1"),
            app_id="corpus-ingest",
            available_now=True,
        )
        q.awaitTermination(120)
        assert lake.snapshot().count() == n
        # redelivery: fresh checkpoint (batch ids restart at 0) but the
        # same app_id — every merge is a replay and must be skipped
        q2 = stream_upsert(
            read_document_stream(spark, src),
            lake,
            on="doc_id",
            checkpoint_dir=str(tmp_path / "ck2"),
            app_id="corpus-ingest",
            available_now=True,
        )
        q2.awaitTermination(120)
        assert lake.snapshot().count() == n
        assert lake.snapshot().select("doc_id").distinct().count() == n


class TestPythonDataSource:
    """Custom Python data source (Spark 4 API): batch and streaming
    reads of the deterministic synthetic tick feed."""

    def test_batch_read_partitioned_and_deterministic(self, spark):
        from market_data_lakehouse_spark.pysource import (
            register_tick_source,
        )

        register_tick_source(spark)
        df = (
            spark.read.format("synthetic_ticks")
            .option("symbols", "AAPL,MSFT,TSLA")
            .option("ticks", 200)
            .load()
        )
        assert df.columns == ["symbol", "ts", "price", "volume", "seq"]
        assert df.count() == 600
        assert df.rdd.getNumPartitions() == 3  # one per symbol
        a = sorted(df.collect())
        b = sorted(
            spark.read.format("synthetic_ticks")
            .option("symbols", "AAPL,MSFT,TSLA")
            .option("ticks", 200)
            .load()
            .collect()
        )
        assert a == b  # reproducible, no RNG state
        prices = {r.price for r in a}
        assert len(prices) > 100  # actually varies

    def test_stream_read_advances_offsets(self, spark, tmp_path):
        from market_data_lakehouse_spark.pysource import (
            register_tick_source,
        )

        register_tick_source(spark)
        q = (
            spark.readStream.format("synthetic_ticks")
            .option("symbols", "AAPL")
            .option("batch_rows", 50)
            .load()
            .writeStream.format("memory")
            .queryName("pyticks")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        import time as _t

        deadline = _t.time() + 60
        n = 0
        while _t.time() < deadline:
            n = spark.sql("SELECT COUNT(*) AS n FROM pyticks").first().n
            if n >= 100:
                break
            _t.sleep(1)
        q.stop()
        assert n >= 100
        seqs = [
            r.seq
            for r in spark.sql(
                "SELECT seq FROM pyticks ORDER BY seq"
            ).collect()
        ]
        # contiguous from 0: offsets advanced without gaps or replays
        assert seqs == list(range(len(seqs)))

    def test_source_feeds_bar_builder_end_to_end(self, spark, tmp_path):
        """Integration: the custom source streams into the
        watermarked OHLCV bar builder, and the produced bars equal a
        batch resample over the identical deterministic tick set —
        connector and operator compose without glue."""
        from market_data_lakehouse_spark.pysource import (
            register_tick_source,
        )
        from market_data_lakehouse_spark.streaming import (
            streaming_ohlcv_bars,
        )

        register_tick_source(spark)
        opts = {"symbols": "AAPL,MSFT", "batch_rows": 120}
        stream = spark.readStream.format("synthetic_ticks")
        for k, v in opts.items():
            stream = stream.option(k, v)
        q = (
            streaming_ohlcv_bars(stream.load(), window="1 minute")
            .writeStream.format("memory")
            .queryName("py_bars")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        import time as _t

        deadline = _t.time() + 60
        while _t.time() < deadline:
            if spark.sql("SELECT COUNT(*) FROM py_bars").first()[0] >= 4:
                break
            _t.sleep(1)
        q.stop()
        got = {
            (r.symbol, str(r.bar_start)): (r.open, r.high, r.low, r.close)
            for r in spark.sql("SELECT * FROM py_bars").collect()
        }
        assert len(got) >= 4
        # batch twin over the same deterministic ticks
        batch = (
            spark.read.format("synthetic_ticks")
            .option("symbols", "AAPL,MSFT")
            .option("ticks", 1000)
            .load()
        )
        from pyspark.sql import functions as F

        want_rows = (
            batch.groupBy("symbol", F.window("ts", "1 minute").alias("w"))
            .agg(
                F.min(F.struct("ts", "price")).alias("o"),
                F.max("price").alias("high"),
                F.min("price").alias("low"),
                F.max(F.struct("ts", "price")).alias("c"),
            )
            .collect()
        )
        want = {
            (r.symbol, str(r.w.start)): (
                r.o.price, r.high, r.low, r.c.price
            )
            for r in want_rows
        }
        for key, bar in got.items():
            assert want[key] == bar, (key, bar, want[key])


class TestAutoCompaction:
    def test_stream_ingest_compacts_every_n_batches(self, spark, tmp_path):
        """optimize_every folds compaction into the ingest loop: after
        the stream drains, live-file count reflects periodic optimize
        commits, history shows compact ops interleaved with appends,
        and no rows are lost."""
        import json

        from market_data_lakehouse_spark.streaming import (
            stream_ingest_transactional,
        )
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        src = str(tmp_path / "in")
        rows = [
            json.dumps(
                {
                    "symbol": "AAPL",
                    "timestamp": f"2024-06-15T10:{m:02d}:00",
                    "open": 1.0, "high": 2.0, "low": 0.5, "close": 1.5,
                    "volume": 100, "asset_class": "equity",
                }
            )
            for m in range(8)
        ]
        import os

        os.makedirs(src)
        for i, r in enumerate(rows):  # one file per row -> 8 batches
            with open(f"{src}/{i}.json", "w") as fh:
                fh.write(r + "\n")
        schema = (
            "symbol string, timestamp timestamp, open double, high double,"
            " low double, close double, volume long, asset_class string"
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        lake = TransactionalLake(
            spark, str(tmp_path / "tx"), partition_by=("date",)
        )
        q = stream_ingest_transactional(
            stream,
            lake,
            checkpoint_dir=str(tmp_path / "ck"),
            available_now=True,
            optimize_every=3,
        )
        q.awaitTermination(120)
        assert lake.snapshot().count() == 8
        ops = [h["op"] for h in lake.history()]
        assert ops.count("compact") >= 2  # batches 3 and 6 triggered
        live, _s, _v, _dv = lake._snapshot_state()
        # compaction keeps the live-file count bounded: far fewer than
        # one file per batch survives
        assert len(live) < 8


class TestStatefulDrawdown:
    def test_running_drawdown_across_batches(self, spark, tmp_path):
        """Stateful-processor state must carry the running
        peak ACROSS micro-batches: batch 2's drawdown is computed
        against batch 1's peak (120), not its own local max — a
        state reset would report 0.25 (vs 130) instead of 0.25 vs
        the true inter-batch path. Values chosen so the correct
        answer differs from any stateless per-batch fold."""
        from market_data_lakehouse_spark.schema import TICK_SCHEMA
        from market_data_lakehouse_spark.streaming import (
            streaming_max_drawdown,
        )

        src = str(tmp_path / "ticks")
        # batch 1: 100 -> 120 -> 110  (peak 120, dd (120-110)/120)
        _write_json(
            src + "/a.json",
            [
                _tick("2024-06-15T10:00:00", price=100.0),
                _tick("2024-06-15T10:00:01", price=120.0),
                _tick("2024-06-15T10:00:02", price=110.0),
            ],
        )
        import time as _t

        _t.sleep(0.05)  # distinct mtime: file source drains a before b
        # batch 2: 90 -> 130  (dd vs carried peak: (120-90)/120 = 0.25)
        _write_json(
            src + "/b.json",
            [
                _tick("2024-06-15T10:01:00", price=90.0),
                _tick("2024-06-15T10:01:01", price=130.0),
            ],
        )
        stream = (
            spark.readStream.schema(TICK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = (
            streaming_max_drawdown(stream)
            .writeStream.format("memory")
            .queryName("dd_t")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck_dd"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM dd_t ORDER BY peak").collect()
        assert rows[-1]["peak"] == 130.0
        assert rows[-1]["max_drawdown"] == pytest.approx(0.25)
        # batch-1 output row proves per-batch emission too
        assert rows[0]["peak"] == 120.0
        assert rows[0]["max_drawdown"] == pytest.approx(10.0 / 120.0)


class TestStreamUpsertSchemaEvolution:
    def test_stream_evolves_target_schema(self, spark, tmp_path):
        """A stream that carries a column the target lacks: without
        schema_evolution the sink's merge kills the query; with it
        the first delivering batch evolves the table (Delta's
        streaming autoMerge contract)."""
        from market_data_lakehouse_spark.streaming import (
            read_tick_stream,
            stream_upsert,
        )
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        src = str(tmp_path / "src")
        lake = TransactionalLake(
            spark, str(tmp_path / "tx"), partition_by=())
        # target starts WITHOUT the stream's volume column
        lake.append(spark.createDataFrame(
            [("AAPL", "2024-06-15 09:00:00", 90.0)],
            "symbol string, ts string, price double",
        ).withColumn("ts", F.col("ts").cast("timestamp")))
        _write_json(
            src + "/b0.json",
            [_tick("2024-06-15T10:00:00", price=100.0, volume=7)],
        )
        q = stream_upsert(
            read_tick_stream(spark, src), lake, on=("symbol", "ts"),
            checkpoint_dir=str(tmp_path / "ck_noevo"),
            available_now=True,
        )
        with pytest.raises(Exception, match="new columns"):
            q.awaitTermination(120)
        q = stream_upsert(
            read_tick_stream(spark, src), lake, on=("symbol", "ts"),
            checkpoint_dir=str(tmp_path / "ck_evo"),
            available_now=True, schema_evolution=True,
        )
        q.awaitTermination(120)
        got = {(r.symbol, r.price, r.volume)
               for r in lake.snapshot().collect()}
        assert got == {
            ("AAPL", 90.0, None),   # pre-evolution row null-fills
            ("AAPL", 100.0, 7),     # streamed insert carries it
        }


class TestStreamUpsertMergeOptions:
    def test_conditional_partial_cdc_apply(self, spark, tmp_path):
        """r13: set_exprs + matched_condition pass through to each
        batch's merge — apply only strictly-newer prices, touching
        only the price column (volume keeps the target value)."""
        from market_data_lakehouse_spark.streaming import (
            read_tick_stream,
            stream_upsert,
        )
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        src = str(tmp_path / "src")
        lake = TransactionalLake(
            spark, str(tmp_path / "tx"), partition_by=()
        )
        base = spark.createDataFrame(
            [("AAPL", "2024-06-15T10:00:00", 150.0, 7),
             ("GOOG", "2024-06-15T10:00:00", 90.0, 9)],
            "symbol string, ts string, price double, volume long",
        ).withColumn("ts", F.to_timestamp("ts"))
        lake.append(base)
        _write_json(
            src + "/b0.json",
            [
                _tick("2024-06-15T10:00:00", price=200.0, volume=1),
                _tick("2024-06-15T10:00:00", symbol="GOOG",
                      price=1.0, volume=2),  # older price: untouched
                _tick("2024-06-15T10:00:00", symbol="MSFT",
                      price=300.0, volume=3),  # new key: inserts
            ],
        )
        q = stream_upsert(
            read_tick_stream(spark, src), lake, on=("symbol", "ts"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            available_now=True,
            set_exprs={"price": "source.price"},
            matched_condition="source.price > price",
        )
        q.awaitTermination(120)
        got = {
            r["symbol"]: (r["price"], r["volume"])
            for r in lake.snapshot().collect()
        }
        assert got["AAPL"] == (200.0, 7)   # price updated, volume kept
        assert got["GOOG"] == (90.0, 9)    # condition false: untouched
        assert got["MSFT"] == (300.0, 3)   # whole-row insert

"""Core lakehouse parity tests.

Port of the reference's unit-test categories
(/root/reference/tests/test_core.py): validation invariants,
partitioning, ingest/auto-flush, flush, and query semantics
(symbol filter, inclusive time range, timestamp-sorted results).
"""

from __future__ import annotations

from datetime import datetime

import pytest

from market_data_lakehouse_spark.lakehouse import DataLakehouse

from tests.conftest import make_bar


@pytest.fixture()
def lake(spark, tmp_path):
    return DataLakehouse(spark, str(tmp_path / "lake"), batch_size=5)


class TestValidation:
    # reference tests/test_core.py:74-112
    @pytest.mark.parametrize(
        "bad",
        [
            {"high": 140.0},  # high < low
            {"open": 170.0},  # open > high
            {"close": 100.0},  # close < low
            {"volume": -1},
        ],
    )
    def test_invalid_rejected(self, lake, bad):
        assert lake.ingest(make_bar(**bad)) is False

    def test_valid_accepted(self, lake):
        assert lake.ingest(make_bar()) is True

    @pytest.mark.parametrize(
        "ac", ["equity", "option", "future", "forex", "crypto"]
    )
    def test_all_asset_classes(self, lake, ac):
        assert lake.ingest(make_bar(asset_class=ac)) is True

    def test_batch_counts_errors_and_continues(self, lake, sample_bars):
        bars = sample_bars + [make_bar(volume=-5), make_bar(high=1.0)]
        stats = lake.ingest_batch(bars)
        assert stats.errors == 2
        assert stats.rows_ingested == len(sample_bars)


class TestPartitioning:
    def test_partition_dirs_by_date(self, lake, sample_bars, tmp_path):
        lake.ingest_batch(sample_bars)
        parts = sorted(
            p.name for p in (tmp_path / "lake").iterdir() if p.name.startswith("date=")
        )
        assert parts == ["date=2024-06-15", "date=2024-06-16"]

    def test_partitions_written_stat(self, lake, sample_bars):
        stats = lake.ingest_batch(sample_bars)
        assert stats.partitions_written == 2


class TestIngestion:
    def test_auto_flush_at_batch_size(self, lake, sample_bars, tmp_path):
        for b in sample_bars[:5]:  # batch_size=5 → auto-flush on 5th
            lake.ingest(b)
        assert len(lake._buffer) == 0
        assert (tmp_path / "lake").exists()

    def test_buffer_below_threshold(self, lake, sample_bars):
        for b in sample_bars[:3]:
            lake.ingest(b)
        assert len(lake._buffer) == 3


class TestFlush:
    def test_empty_flush_noop(self, lake):
        stats = lake.flush()
        assert stats.rows_ingested == 0 and stats.partitions_written == 0

    def test_flush_writes_files(self, lake, sample_bars, tmp_path):
        for b in sample_bars[:3]:
            lake.ingest(b)
        stats = lake.flush()
        assert stats.rows_ingested == 3
        assert any((tmp_path / "lake").rglob("*.parquet"))


class TestQuery:
    def test_query_all(self, lake, sample_bars):
        lake.ingest_batch(sample_bars)
        assert len(lake.query()) == len(sample_bars)

    def test_symbol_filter(self, lake, sample_bars):
        lake.ingest_batch(sample_bars)
        res = lake.query(symbol="GOOGL")
        assert len(res) == 5
        assert all(r.symbol == "GOOGL" for r in res.bars)

    def test_time_range_inclusive(self, lake, sample_bars):
        lake.ingest_batch(sample_bars)
        start = datetime(2024, 6, 15, 10, 30)
        end = datetime(2024, 6, 15, 12, 30)
        res = lake.query(start=start, end=end)
        # bounds land exactly on bar timestamps → inclusive on both ends
        assert len(res) == 3
        ts = [r.timestamp for r in res.bars]
        assert ts[0] == start and ts[-1] == end

    def test_sorted_by_timestamp(self, lake, sample_bars):
        lake.ingest_batch(list(reversed(sample_bars)))  # out-of-order ingest
        ts = [r.timestamp for r in lake.query().bars]
        assert ts == sorted(ts)

    def test_empty_lake(self, spark, tmp_path):
        lake = DataLakehouse(spark, str(tmp_path / "nothing"))
        lake.ingest_batch([make_bar()])  # create then query outside range
        res = lake.query(start=datetime(2030, 1, 1), end=datetime(2030, 1, 2))
        assert len(res) == 0

    def test_metrics(self, lake, sample_bars):
        lake.ingest_batch(sample_bars)
        res = lake.query(
            start=datetime(2024, 6, 15), end=datetime(2024, 6, 15, 23, 59)
        )
        assert res.query_time_ms >= 0
        # rows_scanned = pre-filter cardinality of pruned partitions
        assert res.total_rows_scanned == 10

    def test_dead_letter_queue(self, spark, tmp_path):
        lake = DataLakehouse(
            spark,
            str(tmp_path / "lake"),
            dead_letter_path=str(tmp_path / "dlq"),
        )
        lake.ingest_batch([make_bar(), make_bar(volume=-1)])
        dlq = spark.read.parquet(str(tmp_path / "dlq"))
        assert dlq.count() == 1

    def test_sql_surface(self, lake, sample_bars):
        lake.ingest_batch(sample_bars)
        out = lake.sql(
            "SELECT symbol, count(*) AS n FROM bars GROUP BY symbol ORDER BY symbol"
        ).collect()
        assert {r.symbol: r.n for r in out} == {"AAPL": 9, "GOOGL": 5}

    def test_compact(self, lake, sample_bars):
        lake.ingest_batch(sample_bars[:5])
        lake.ingest_batch(sample_bars[5:])
        lake.compact()
        # live files from the log: the superseded ones stay on disk
        # until vacuum, so a directory walk would count them too
        live = lake.txn._snapshot_state()[0]
        assert len(live) == 2  # one file per date partition
        assert len(lake.query()) == len(sample_bars)


class TestLoglessAdoption:
    def test_old_layout_adopted_then_appended(self, spark, tmp_path):
        """A lake written before the transaction log (plain
        ``partitionBy("date")`` parquet, no ``_txn_log``) is adopted
        on first open and keeps taking appends: ``convert`` commits
        the ``date`` key as a string, which a ``date``-typed append
        would be refused against."""
        from pyspark.sql import functions as F

        from market_data_lakehouse_spark.schema import BAR_SCHEMA

        path = str(tmp_path / "old")
        old = [
            make_bar(timestamp=datetime(2024, 6, 15, 10, 0)),
            make_bar(symbol="GOOGL", timestamp=datetime(2024, 6, 16, 9, 0)),
        ]
        spark.createDataFrame(
            [tuple(b[f.name] for f in BAR_SCHEMA.fields) for b in old],
            BAR_SCHEMA,
        ).withColumn("date", F.to_date("timestamp")).write.partitionBy(
            "date"
        ).parquet(path)
        lake = DataLakehouse(spark, path)
        assert lake.txn.version == 0
        assert len(lake.query()) == 2
        new = make_bar(timestamp=datetime(2024, 6, 17, 11, 0))
        assert lake.ingest_batch([new]).rows_ingested == 1
        got = [(r.symbol, r.timestamp) for r in lake.query().bars]
        assert got == [
            (b["symbol"], b["timestamp"]) for b in old + [new]
        ]
        # a reopen does not convert again
        assert DataLakehouse(spark, path).txn.version == 1


class TestCsvFileIngest:
    def test_corrupt_rows_route_to_dlq_parsed_rows_ingest(
        self, spark, tmp_path
    ):
        """External CSV ingest: unparsable lines land in the parse
        DLQ as raw text, invariant-violating rows land in the normal
        DLQ, clean rows are queryable — nothing aborts, nothing is
        silently dropped."""
        import os

        from market_data_lakehouse_spark.lakehouse import DataLakehouse

        src = str(tmp_path / "drops")
        os.makedirs(src)
        header = (
            "symbol,timestamp,open,high,low,close,volume,asset_class"
        )
        lines = [
            header,
            # a full microsecond fraction must load exact: the scan
            # reads the text and casts it (a CSV timestampFormat
            # cannot express a variable-width fraction)
            "AAPL,2024-06-15 10:30:07.179575,150.0,155.0,149.0,153.0,1000,"
            "equity",
            # unparsable volume -> parse DLQ
            "MSFT,2024-06-15 10:31:00,1.0,2.0,0.5,1.5,NOT_A_NUMBER,equity",
            # parses fine but violates high >= low -> invariant DLQ
            "TSLA,2024-06-15 10:32:00,1.0,0.2,0.5,1.5,10,equity",
        ]
        with open(f"{src}/a.csv", "w") as fh:
            fh.write("\n".join(lines) + "\n")
        lake = DataLakehouse(
            spark,
            str(tmp_path / "lake"),
            dead_letter_path=str(tmp_path / "dlq"),
        )
        stats = lake.ingest_csv_files(src)
        assert stats.rows_ingested == 1
        assert stats.errors == 2  # one parse-level + one invariant
        assert lake.table().count() == 1
        assert lake.table().first().symbol == "AAPL"
        assert lake.table().first().timestamp == datetime(
            2024, 6, 15, 10, 30, 7, 179575
        )
        parse_dlq = spark.read.parquet(str(tmp_path / "dlq") + "_parse")
        assert parse_dlq.count() == 1
        assert "NOT_A_NUMBER" in parse_dlq.first()._raw
        inv_dlq = spark.read.parquet(str(tmp_path / "dlq"))
        assert inv_dlq.filter("symbol = 'TSLA'").count() == 1


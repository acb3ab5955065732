"""Job-count discipline: the VERDICT r1 regressions — query() must be
lazy (no hidden count jobs) and ingest stats must not multiply scans
of the batch (observe/persist, not N recomputes)."""

from __future__ import annotations

from datetime import datetime

import pytest

from market_data_lakehouse_spark.lakehouse import DataLakehouse


def _bars(n=50):
    return [
        {
            "symbol": "AAPL" if i % 2 == 0 else "GOOGL",
            "timestamp": datetime(2024, 6, 15 + i % 3, 10, 0, i % 60),
            "open": 150.0,
            "high": 155.0,
            "low": 149.0,
            "close": 153.0,
            "volume": 100 + i,
            "asset_class": "equity",
        }
        for i in range(n)
    ]


def _jobs_so_far(spark) -> int:
    """Total jobs ever submitted on this context (DAGScheduler's
    monotonically-increasing job id counter)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_query_is_lazy(spark, tmp_path):
    """Building a QueryResult must run ZERO jobs: the metrics count
    (total_rows_scanned) is computed only on first access, the
    result DataFrame is untouched until the caller acts, and the
    scan's files and schema are read from the log."""
    lake = DataLakehouse(spark, str(tmp_path / "lake"))
    lake.ingest_batch(_bars())
    before = _jobs_so_far(spark)
    res = lake.query(
        symbol="AAPL", start="2024-06-15 00:00:00", end="2024-06-16 23:59:59"
    )
    assert res.df is not None
    used = _jobs_so_far(spark) - before
    # the files and schema come from the transaction log: no listing
    # or footer schema-inference job, and no hidden data scan (the r1
    # metrics regression)
    assert used == 0, f"query() ran {used} jobs before any action"


def test_ingest_batch_bounded_jobs(spark, tmp_path):
    """Validated ingest = one stats aggregate + one write, both over
    the PERSISTED batch (r1 recomputed the input up to 5x). AQE splits
    each into query-stage jobs over the cache, so the bound is on job
    count, with the one-scan property guaranteed by the persist()."""
    lake = DataLakehouse(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame(
        [tuple(b.values()) for b in _bars()],
        "symbol string, timestamp timestamp, open double, high double, "
        "low double, close double, volume long, asset_class string",
    )
    before = _jobs_so_far(spark)
    lake.ingest_batch(df)
    used = _jobs_so_far(spark) - before
    assert used <= 6, f"ingest_batch ran {used} jobs"


def test_txn_append_constraint_rides_write(spark, tmp_path):
    """r6 observe-fold: a constrained append (with skip_empty) must
    not run a separate validation or emptiness job — CHECK
    enforcement and the row count ride the write job's observe()
    metrics. Bound covers the write plus AQE's rebalance stage."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    tx = TransactionalLake(spark, str(tmp_path / "tx"), partition_by=("date",))
    tx.add_check_constraint("vol_ok", "volume >= 0")
    df = spark.createDataFrame(
        [tuple(b.values()) for b in _bars()],
        "symbol string, timestamp timestamp, open double, high double, "
        "low double, close double, volume long, asset_class string",
    ).selectExpr("*", "to_date(timestamp) AS date")
    before = _jobs_so_far(spark)
    tx.append(df, skip_empty=True)
    used = _jobs_so_far(spark) - before
    assert used <= 3, f"append ran {used} jobs (validate/isEmpty resurrected?)"


def test_log_schema_reads_run_no_jobs(spark, tmp_path):
    """snapshot(), time travel and read_changes take the table schema
    from the log, so building the DataFrame runs ZERO Spark jobs (no
    footer-merge job). The lake stays under Spark's 32-path parallel
    listing threshold, which would add a listing job of its own."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    tx = TransactionalLake(spark, str(tmp_path / "tx"), partition_by=("date",))
    for i in range(4):
        tx.append(
            spark.createDataFrame(
                [("AAPL", 150.0 + i, f"2024-06-1{i}")],
                "symbol string, price double, date string",
            )
        )
    assert len(tx._snapshot_state()[0]) < 32
    reads = {
        "snapshot()": tx.snapshot,
        "snapshot(version=1)": lambda: tx.snapshot(version=1),
        "read_changes(0)": lambda: tx.read_changes(0),
    }
    for name, read in reads.items():
        before = _jobs_so_far(spark)
        read()
        used = _jobs_so_far(spark) - before
        assert used == 0, f"{name} ran {used} jobs before any action"



def _bar_frame(spark, pdf):
    """Bench-shaped bars (BAR_SCHEMA + ``date``) built the way a
    pandas feed arrives: an Arrow-backed LocalRelation."""
    from pyspark.sql import functions as F

    from market_data_lakehouse_spark import BAR_SCHEMA

    return spark.createDataFrame(
        pdf[BAR_SCHEMA.fieldNames()], schema=BAR_SCHEMA
    ).withColumn("date", F.to_date("timestamp"))


def _bars_pdf(n, start, step_s, seed):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    return pd.DataFrame({
        "symbol": rng.choice(["AAPL", "MSFT", "GOOG", "AMZN"], n),
        "timestamp": pd.Timestamp(start)
        + pd.to_timedelta(np.arange(n) * step_s, unit="s"),
        "open": 1.0, "high": 2.0, "low": 0.5, "close": rng.random(n),
        "volume": rng.integers(1, 1000, n), "asset_class": "equity",
    })


def _bar_lake(spark, root):
    """A 10-file, 10x60-row bar lake."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    tx = TransactionalLake(spark, root)
    for d in range(10):
        tx.append(
            _bar_frame(spark, _bars_pdf(60, datetime(2024, 1, 1 + d), 600, d))
        )
    assert len(tx._snapshot_state()[0]) >= 10
    return tx


def _upsert_source(spark, tx):
    """The bench's upsert: 40 existing bars with a new close plus 40
    new bars."""
    import pandas as pd

    upd = tx.snapshot().limit(40).toPandas()
    upd["close"] += 0.25
    new = _bars_pdf(40, datetime(2024, 2, 1), 60, 99)
    return _bar_frame(spark, pd.concat([upd, new], ignore_index=True))


def test_merge_and_view_refresh_job_budget(spark, tmp_path):
    """A source under the broadcast threshold is read in one pass, so
    the bench's 40-update + 40-insert upsert on (symbol, timestamp)
    runs at most 5 jobs (source pass, probe, write, and the probe's
    and write's broadcasts) and an IncrementalAggView refresh after a
    300-row append at most 7."""
    from market_data_lakehouse_spark.mv import IncrementalAggView

    tx = _bar_lake(spark, str(tmp_path / "tx"))
    view = IncrementalAggView(
        spark, tx, str(tmp_path / "mv"), group_by=["symbol", "date"],
        sum_cols=["volume"],
    )
    view.refresh()
    src = _upsert_source(spark, tx)
    before = _jobs_so_far(spark)
    tx.merge(src, on=["symbol", "timestamp"])
    used = _jobs_so_far(spark) - before
    assert used <= 5, f"merge ran {used} jobs"
    assert tx.snapshot().count() == 640

    tx.append(_bar_frame(spark, _bars_pdf(300, datetime(2024, 2, 2), 60, 7)))
    before = _jobs_so_far(spark)
    view.refresh()
    used = _jobs_so_far(spark) - before
    assert used <= 7, f"view refresh ran {used} jobs"


# (merge, update_where, delete_where) job budgets per DML writer. A
# dv delete writes no file, so it runs one job fewer than a rewrite.
DML_JOB_BUDGET = {"rewrite": (5, 3, 3), "dv": (5, 3, 2)}


@pytest.mark.parametrize("mode", sorted(DML_JOB_BUDGET))
def test_dml_job_budget(spark, tmp_path, mode):
    """The bench's upsert, then an UPDATE and a DELETE that each touch
    a few rows of every file, in either writer, stay within the
    budget: copy-on-write probes, re-reads and writes; dv reads
    positions once and writes only postimages."""
    tx = _bar_lake(spark, str(tmp_path / "tx"))
    src = _upsert_source(spark, tx)
    ops = {
        "merge": lambda: tx.merge(src, on=["symbol", "timestamp"], mode=mode),
        "update": lambda: tx.update_where(
            "symbol = 'AAPL' AND volume < 100", {"close": "close + 1"},
            mode=mode,
        ),
        "delete": lambda: tx.delete_where(
            "symbol = 'MSFT' AND volume < 50", mode=mode
        ),
    }
    used = {}
    for name, op in ops.items():
        before = _jobs_so_far(spark)
        op()
        used[name] = _jobs_so_far(spark) - before
    assert all(
        u <= b for u, b in zip(used.values(), DML_JOB_BUDGET[mode])
    ), f"{mode} DML ran {used} jobs, budget {DML_JOB_BUDGET[mode]}"

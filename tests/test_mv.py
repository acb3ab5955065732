"""IncrementalAggView: CDC-driven aggregate maintenance must equal a
full recompute after ANY DML sequence, with exactly-once refreshes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from market_data_lakehouse_spark.mv import IncrementalAggView
from market_data_lakehouse_spark.txnlog import TransactionalLake


def _rows(spark, lo, hi, null_every=None):
    df = spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("grp"),
        (F.col("id") * 10).cast("bigint").alias("x"),
        (F.col("id") % 100).cast("double").alias("y"),
        F.to_date(F.lit("2024-06-15")).alias("date"),
    )
    if null_every:
        df = df.withColumn(
            "x",
            F.when(F.col("k") % null_every == 0, F.lit(None)).otherwise(
                F.col("x")
            ),
        )
    return df


@pytest.fixture()
def src(spark, tmp_path):
    return TransactionalLake(spark, str(tmp_path / "src"), partition_by=())


@pytest.fixture()
def mv(spark, src, tmp_path):
    return IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by=["grp"], sum_cols=["x", "y"]
    )


def _recompute(src):
    return (
        src.snapshot()
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("x").alias("sum_x"),
            F.avg("x").alias("avg_x"),
            F.sum("y").alias("sum_y"),
            F.avg("y").alias("avg_y"),
        )
    )


def _assert_equiv(mv, src):
    got = mv.view().orderBy("grp").collect()
    want = _recompute(src).orderBy("grp").collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]


class TestEquivalence:
    def test_appends(self, spark, src, mv):
        src.append(_rows(spark, 0, 40))
        mv.refresh()
        _assert_equiv(mv, src)
        src.append(_rows(spark, 40, 100))
        mv.refresh()
        _assert_equiv(mv, src)

    def test_delete_update_merge_restore(self, spark, src, mv):
        src.append(_rows(spark, 0, 60))
        mv.refresh()
        src.delete_where("k % 7 = 3")
        mv.refresh()
        _assert_equiv(mv, src)
        src.update_where("k % 5 = 0", {"x": "x * 3"})
        mv.refresh()
        _assert_equiv(mv, src)
        merge_src = _rows(spark, 50, 80).withColumn(
            "y", F.col("y") + 0.5
        )
        src.merge(merge_src, on="k")
        mv.refresh()
        _assert_equiv(mv, src)
        restore_to = 1  # back to post-delete state
        src.restore(restore_to)
        mv.refresh()
        _assert_equiv(mv, src)

    def test_batched_dml_single_refresh(self, spark, src, mv):
        """Several source commits folded by ONE refresh give the same
        state as refresh-per-commit (linearity of the fold)."""
        src.append(_rows(spark, 0, 30))
        src.append(_rows(spark, 30, 60))
        src.delete_where("k % 4 = 1")
        src.update_where("k % 6 = 0", {"y": "y + 1.0"})
        mv.refresh()
        _assert_equiv(mv, src)

    def test_null_semantics(self, spark, src, mv):
        """All-null sum column in a group -> SUM/AVG NULL (SQL), and
        per-row nulls don't poison counts."""
        src.append(_rows(spark, 0, 20, null_every=1))  # x all null
        mv.refresh()
        _assert_equiv(mv, src)
        got = {r.grp: r for r in mv.view().collect()}
        assert all(g.sum_x is None and g.avg_x is None for g in got.values())

    def test_group_emptied_then_refilled(self, spark, src, mv):
        src.append(_rows(spark, 0, 40))
        mv.refresh()
        src.delete_where("grp = 'g1'")
        mv.refresh()
        assert mv.view().filter("grp = 'g1'").count() == 0
        _assert_equiv(mv, src)
        src.append(_rows(spark, 101, 102))  # k=101 -> g1 again
        mv.refresh()
        _assert_equiv(mv, src)

    def test_compaction_is_transparent(self, spark, src, mv):
        src.append(_rows(spark, 0, 30))
        src.append(_rows(spark, 30, 50))
        mv.refresh()
        src.optimize()
        v = mv.refresh()  # maintenance-only span
        assert v == src.version
        _assert_equiv(mv, src)


class TestExactlyOnce:
    def test_refresh_idempotent(self, spark, src, mv):
        src.append(_rows(spark, 0, 30))
        mv.refresh()
        state_v = mv.state.version
        assert mv.refresh() == src.version  # no-op
        assert mv.state.version == state_v
        _assert_equiv(mv, src)

    def test_last_folded_survives_reopen(self, spark, src, mv, tmp_path):
        src.append(_rows(spark, 0, 30))
        mv.refresh()
        reopened = IncrementalAggView(
            spark, src, str(tmp_path / "mv"), group_by=["grp"],
            sum_cols=["x", "y"],
        )
        assert reopened.last_folded_version == src.version
        src.append(_rows(spark, 30, 45))
        reopened.refresh()
        _assert_equiv(reopened, src)

    def test_refresh_after_state_log_vacuum(self, spark, src, mv):
        """Vacuuming the state table's log must not make the view's
        long-lived handle forget what it folded: a stale
        last_folded_version would re-fold the span and double-count."""
        src.append(_rows(spark, 0, 30))
        mv.refresh()
        src.append(_rows(spark, 30, 45))
        mv.refresh()
        mv.state.checkpoint()
        mv.state.vacuum_log()
        assert mv.last_folded_version == src.version
        src.append(_rows(spark, 45, 60))
        mv.refresh()
        _assert_equiv(mv, src)


class TestContract:
    def test_view_before_refresh_raises(self, spark, src, mv):
        with pytest.raises(ValueError, match="refresh"):
            mv.view()

    def test_integer_sums_exact(self, spark, src, mv):
        """Long sums fold exactly in any order: sum_x type is bigint
        and matches the recompute bit-for-bit."""
        src.append(_rows(spark, 0, 200))
        src.update_where("k % 2 = 0", {"x": "x * 7"})
        mv.refresh()
        assert dict(mv.view().dtypes)["sum_x"] == "bigint"
        _assert_equiv(mv, src)

    def test_vacuum_tombstones(self, spark, src, mv):
        src.append(_rows(spark, 0, 40))
        mv.refresh()
        src.delete_where("grp = 'g2'")
        mv.refresh()
        assert mv.state.snapshot().filter("n_rows = 0").count() == 1
        mv.vacuum_tombstones()
        assert mv.state.snapshot().filter("n_rows = 0").count() == 0
        _assert_equiv(mv, src)


class TestStreamingRefresh:
    def test_view_rides_the_ingest_loop(self, spark, tmp_path):
        """refresh_views: the view refreshes after every committed
        micro-batch and ends equal to a full recompute of the lake."""
        import os

        from pyspark.sql import functions as F

        from market_data_lakehouse_spark.streaming import (
            stream_ingest_transactional,
        )

        src = str(tmp_path / "src")
        bars = spark.range(0, 2000).select(
            F.concat(F.lit("S"), (F.col("id") % 3).cast("string")).alias(
                "symbol"
            ),
            F.timestamp_seconds(F.lit(1718400000) + F.col("id")).alias(
                "timestamp"
            ),
            (F.col("id") % 50).cast("double").alias("close"),
            (F.col("id") % 7).cast("bigint").alias("volume"),
        )
        bars.repartition(4).write.parquet(src)
        static = spark.read.parquet(src)
        lake = TransactionalLake(
            spark, str(tmp_path / "lake"), partition_by=("date",)
        )
        mv = IncrementalAggView(
            spark,
            lake,
            str(tmp_path / "mv"),
            group_by=["symbol"],
            sum_cols=["volume"],
        )
        stream = (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = stream_ingest_transactional(
            stream,
            lake,
            str(tmp_path / "ckpt"),
            available_now=True,
            refresh_views=[mv],
        )
        q.awaitTermination(120)
        q.stop()
        assert mv.last_folded_version == lake.version
        got = {r.symbol: (r.n_rows, r.sum_volume) for r in mv.view().collect()}
        want = {
            r.symbol: (r.n, r.s)
            for r in lake.snapshot()
            .groupBy("symbol")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("volume").alias("s"))
            .collect()
        }
        assert got == want and sum(n for n, _ in got.values()) == 2000


class TestMinMaxHybrid:
    @pytest.fixture()
    def mmv(self, spark, src, tmp_path):
        return IncrementalAggView(
            spark, src, str(tmp_path / "mmv"), group_by=["grp"],
            sum_cols=["x"], minmax_cols=["y"],
        )

    def _assert_mm(self, mmv, src):
        got = {
            r.grp: (r.n_rows, r.min_y, r.max_y)
            for r in mmv.view().collect()
        }
        want = {
            r.grp: (r.n, r.mn, r.mx)
            for r in src.snapshot()
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("y").alias("mn"),
                F.max("y").alias("mx"),
            )
            .collect()
        }
        assert got == want

    def test_insert_only_spans_fold_incrementally(self, spark, src, mmv):
        src.append(_rows(spark, 0, 40))
        mmv.refresh()
        self._assert_mm(mmv, src)
        src.append(_rows(spark, 200, 260))  # new extrema in some groups
        mmv.refresh()
        self._assert_mm(mmv, src)

    def test_delete_of_extremum_recomputes(self, spark, src, mmv):
        """The deleted row IS the max for its group: a naive
        incremental fold would keep the stale max; the hybrid
        recompute must shrink it."""
        src.append(_rows(spark, 0, 100))
        mmv.refresh()
        old = {r.grp: r.max_y for r in mmv.view().collect()}
        # y = k % 100 -> the global max row per group is k in 96..99
        src.delete_where("k >= 96")
        mmv.refresh()
        new = {r.grp: r.max_y for r in mmv.view().collect()}
        assert any(new[g] < old[g] for g in new)  # max actually shrank
        self._assert_mm(mmv, src)

    def test_update_moves_extremum(self, spark, src, mmv):
        src.append(_rows(spark, 0, 60))
        mmv.refresh()
        src.update_where("y > 50", {"y": "y - 100.0"})  # old maxes drop
        mmv.refresh()
        self._assert_mm(mmv, src)

    def test_mixed_span_and_refill(self, spark, src, mmv):
        src.append(_rows(spark, 0, 40))
        src.delete_where("grp = 'g1'")
        src.append(_rows(spark, 101, 110))
        mmv.refresh()  # one span: inserts + deletes + re-inserts
        self._assert_mm(mmv, src)


class TestNullGroupKeys:
    def test_null_group_key_rejected_loudly(self, spark, src, mv):
        """NULL group keys never equality-match in the state MERGE —
        silently accumulating duplicate state rows is the failure
        mode; the refresh must raise instead."""
        rows = _rows(spark, 0, 10).withColumn(
            "grp",
            F.when(F.col("k") == 3, F.lit(None)).otherwise(F.col("grp")),
        )
        src.append(rows)
        with pytest.raises(ValueError, match="NULL"):
            mv.refresh()
        # non-null sources keep working after the failed refresh
        src.delete_where("k = 3")
        mv.refresh()
        _assert_equiv(mv, src)

    def test_cancelled_null_keys_fold_silently(self, spark, src, mv):
        """Null-keyed rows inserted and deleted within the same
        unfolded span have zero net effect — the refresh must proceed
        (raising would wedge forever: the history is immutable)."""
        rows = _rows(spark, 0, 10).withColumn(
            "grp",
            F.when(F.col("k") == 3, F.lit(None)).otherwise(F.col("grp")),
        )
        src.append(rows)
        src.delete_where("k = 3")
        mv.refresh()
        _assert_equiv(mv, src)
        # and later refreshes over clean spans stay healthy
        src.append(_rows(spark, 10, 16))
        mv.refresh()
        _assert_equiv(mv, src)


def _ticks(spark, rows):
    return spark.createDataFrame(
        [(s, e, float(p), int(v)) for s, e, p, v in rows],
        "symbol string, exch string, price double, volume long",
    )


class TestVwapOverGeneratedColumn:
    """VWAP as a ratio of two maintained sums: the source generates
    ``notional = price * volume`` on every write, the view keeps
    SUM(notional) and SUM(volume) per group, and VWAP derives at read
    time. Prices and volumes are small integers, so every sum is
    exact and the view must equal the recompute exactly."""

    @pytest.fixture()
    def ticks(self, spark, tmp_path):
        return TransactionalLake(
            spark,
            str(tmp_path / "ticks"),
            partition_by=(),
            generated_columns={"notional": "price * volume"},
        )

    @staticmethod
    def _view(spark, ticks, tmp_path, keys):
        return IncrementalAggView(
            spark, ticks, str(tmp_path / "vwap"), group_by=keys,
            sum_cols=["notional", "volume"],
        )

    @staticmethod
    def _vwap(view, keys):
        return {
            tuple(r[k] for k in keys): (r.vwap, r.sum_notional, r.sum_volume,
                                        r.n_rows)
            for r in view.view()
            .withColumn("vwap", F.col("sum_notional") / F.col("sum_volume"))
            .collect()
        }

    @staticmethod
    def _full(ticks, keys):
        return {
            tuple(r[k] for k in keys): (r.vwap, r.pv, r.v, r.n)
            for r in ticks.snapshot()
            .groupBy(*keys)
            .agg(
                (F.sum(F.col("price") * F.col("volume")) / F.sum("volume"))
                .alias("vwap"),
                F.sum(F.col("price") * F.col("volume")).alias("pv"),
                F.sum("volume").alias("v"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        }

    def test_refresh_matches_recompute_and_noop(self, spark, ticks, tmp_path):
        keys = ["symbol"]
        view = self._view(spark, ticks, tmp_path, keys)
        ticks.append(_ticks(spark, [("AAPL", "N", 100, 10),
                                    ("AAPL", "N", 110, 10),
                                    ("MSFT", "N", 50, 4)]))
        assert view.refresh() == ticks.version
        got = self._vwap(view, keys)
        assert got == self._full(ticks, keys)
        assert got[("AAPL",)][0] == 105.0
        # the second batch folds from the commits after the first only
        ticks.append(_ticks(spark, [("AAPL", "N", 130, 20),
                                    ("GOOG", "Q", 70, 1)]))
        view.refresh()
        got = self._vwap(view, keys)
        assert got == self._full(ticks, keys)
        assert got[("AAPL",)][2] == 40
        # nothing new: the refresh commits nothing to the state table
        state_version = view.state.version
        assert view.refresh() == ticks.version
        assert view.state.version == state_version

    def test_fully_deleted_group_leaves_view(self, spark, ticks, tmp_path):
        keys = ["symbol"]
        view = self._view(spark, ticks, tmp_path, keys)
        ticks.append(_ticks(spark, [("AAPL", "N", 100, 10),
                                    ("MSFT", "N", 50, 4)]))
        view.refresh()
        ticks.delete_where("symbol = 'MSFT'")
        view.refresh()
        got = self._vwap(view, keys)
        assert set(got) == {("AAPL",)}
        assert got == self._full(ticks, keys)

    def test_merge_and_update_fold_through_view(self, spark, ticks, tmp_path):
        """MERGE and update_where emit delete+insert pairs in the
        change feed, and an update of ``volume`` regenerates
        ``notional``: the signed fold nets both to the post-DML
        truth."""
        keys = ["symbol"]
        view = self._view(spark, ticks, tmp_path, keys)
        ticks.append(_ticks(spark, [("AAPL", "N", 100, 10),
                                    ("AAPL", "N", 110, 10),
                                    ("MSFT", "N", 50, 4)]).coalesce(1))
        view.refresh()
        # upsert: replace MSFT (matched) and insert GOOG
        ticks.merge(_ticks(spark, [("MSFT", "N", 60, 8),
                                   ("GOOG", "Q", 70, 2)]), on="symbol")
        view.refresh()
        got = self._vwap(view, keys)
        assert got == self._full(ticks, keys)
        assert got[("MSFT",)] == (60.0, 480.0, 8, 1)
        ticks.update_where("symbol = 'AAPL'", {"volume": "volume * 2"})
        view.refresh()
        got = self._vwap(view, keys)
        assert got == self._full(ticks, keys)
        assert got[("AAPL",)] == (105.0, 4200.0, 40, 2)

    def test_composite_keys_with_computed_sum(self, spark, ticks, tmp_path):
        keys = ["symbol", "exch"]
        view = self._view(spark, ticks, tmp_path, keys)
        ticks.append(_ticks(spark, [("AAPL", "N", 100, 10),
                                    ("AAPL", "Q", 101, 5),
                                    ("MSFT", "N", 50, 4)]))
        view.refresh()
        assert self._vwap(view, keys) == self._full(ticks, keys)
        ticks.merge(_ticks(spark, [("AAPL", "N", 120, 20),
                                   ("GOOG", "Q", 70, 1)]),
                    on=("symbol", "exch"))
        ticks.delete_where("symbol = 'MSFT'")
        ticks.update_where("exch = 'Q'", {"volume": "volume + 1"})
        view.refresh()
        got = self._vwap(view, keys)
        assert got == self._full(ticks, keys)
        assert ("MSFT", "N") not in got
        assert got[("AAPL", "Q")] == (101.0, 606.0, 6, 1)

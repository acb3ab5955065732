"""Log-level file statistics and data skipping (Delta stats-in-log
design): commits record per-file column min/max; reads prune files
whose ranges provably cannot match — correctness must be EXACTLY
snapshot().filter(...), skipping is only ever I/O elimination."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from market_data_lakehouse_spark import logcore
from market_data_lakehouse_spark.txnlog import TransactionalLake


def _df(spark, lo, hi, sym):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.lit(sym).alias("symbol"),
        (F.col("id") * 1.5).alias("price"),
        F.to_date(F.lit("2024-06-15")).alias("date"),
    )


@pytest.fixture()
def lake(spark, tmp_path):
    lk = TransactionalLake(spark, str(tmp_path / "tx"), partition_by=())
    # coalesce(1): exactly one data file per append, so the skip
    # arithmetic below is deterministic (3 files, disjoint k ranges)
    lk.append(_df(spark, 0, 100, "AAA").coalesce(1))
    lk.append(_df(spark, 100, 200, "BBB").coalesce(1))
    lk.append(_df(spark, 200, 300, "CCC").coalesce(1))
    return lk


class TestStatsCollection:
    def test_commit_records_min_max(self, lake):
        stats = lake._stats_index()
        assert stats, "no stats recorded"
        ks = sorted(s["k"] for s in stats.values() if "k" in s)
        assert ks == [[0, 99], [100, 199], [200, 299]]
        syms = {tuple(s["symbol"]) for s in stats.values() if "symbol" in s}
        assert ("AAA", "AAA") in syms

    def test_all_commit_kinds_carry_stats(self, spark, lake):
        lake.update_where("k = 5", {"price": "price * 2"})
        lake.delete_where("k = 250")
        lake.optimize()
        for v in logcore.commit_versions(lake.log_path):
            c = lake._read_commit(v)
            if c.get("add"):
                assert c.get("stats"), f"add-commit without stats: {c['op']}"


class TestPruning:
    def test_prunes_disjoint_files(self, lake):
        kept, total, _ = lake.prune_files({"k": (120, 180)})
        assert total == 3 and len(kept) == 1

    def test_string_bounds(self, lake):
        kept, total, _ = lake.prune_files({"symbol": ("BBB", "BBB")})
        assert len(kept) == 1

    def test_unbounded_sides(self, lake):
        kept, _, _ = lake.prune_files({"k": (None, 99)})
        assert len(kept) == 1
        kept, _, _ = lake.prune_files({"k": (100, None)})
        assert len(kept) == 2

    def test_unknown_column_keeps_all(self, lake):
        kept, total, _ = lake.prune_files({"nope": (1, 2)})
        assert len(kept) == total

    def test_scan_between_equals_full_filter(self, lake):
        got = lake.scan_between({"k": (50, 250)}).orderBy("k").collect()
        want = (
            lake.snapshot()
            .filter((F.col("k") >= 50) & (F.col("k") <= 250))
            .orderBy("k")
            .collect()
        )
        assert got == want
        # residual predicate applied: boundary exactness
        assert got[0].k == 50 and got[-1].k == 250

    def test_skipping_never_drops_matching_rows(self, spark, lake):
        """DML rewrites re-stat their files; skipping stays exact."""
        lake.update_where("k % 2 = 0", {"price": "price + 1000"})
        got = lake.scan_between({"price": (1000.0, None)}).count()
        want = lake.snapshot().filter("price >= 1000").count()
        assert got == want > 0


class TestZOrderSynergy:
    def test_zorder_tightens_stats_and_skips(self, spark, tmp_path):
        """Interleaved symbols across many files: before clustering a
        symbol bound keeps everything; after optimize(zorder_by) each
        file covers a narrow symbol range and skipping bites."""
        lk = TransactionalLake(spark, str(tmp_path / "z"), partition_by=())
        df = spark.range(0, 4000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("S"), (F.col("id") % 8).cast("string")).alias(
                "symbol"
            ),
            (F.col("id") * 1.0).alias("price"),
        )
        for i in range(4):  # every append spans ALL symbols
            lk.append(df.filter((F.col("k") % 4) == i).repartition(4))
        before_kept, before_total, _ = lk.prune_files(
            {"symbol": ("S3", "S3")}
        )
        assert len(before_kept) == before_total  # nothing skippable
        lk.optimize(zorder_by=("symbol",), files_per_partition=8)
        after_kept, after_total, _ = lk.prune_files({"symbol": ("S3", "S3")})
        assert len(after_kept) < after_total
        got = lk.scan_between({"symbol": ("S3", "S3")}).count()
        assert got == lk.snapshot().filter("symbol = 'S3'").count() == 500


class TestPartitionValuePruning:
    def test_partition_bounds_prune_by_path(self, spark, tmp_path):
        """Partition columns live in dir names, not footers: bounds
        on them must prune via the hive-encoded path value."""
        lk = TransactionalLake(
            spark, str(tmp_path / "p"), partition_by=("date",)
        )
        for d in ("2024-06-01", "2024-06-15", "2024-07-01"):
            lk.append(
                spark.createDataFrame(
                    [(1, 10.0, d)], "k long, price double, date string"
                )
            )
        kept, total, _ = lk.prune_files(
            {"date": ("2024-06-10", "2024-06-20")}
        )
        assert total == 3 and len(kept) == 1
        got = lk.scan_between({"date": ("2024-06-10", "2024-06-20")})
        assert [str(r.date) for r in got.collect()] == ["2024-06-15"]

    def test_numeric_partition_compares_numerically(self, spark, tmp_path):
        """'9' > '10' as strings — numeric partition values must
        compare as numbers."""
        lk = TransactionalLake(
            spark, str(tmp_path / "n"), partition_by=("bucket",)
        )
        for b in (9, 10, 11):
            lk.append(
                spark.createDataFrame(
                    [(1, b)], "k long, bucket long"
                )
            )
        kept, total, _ = lk.prune_files({"bucket": (10, None)})
        assert total == 3 and len(kept) == 2

    def test_combined_partition_and_stats_bounds(self, spark, tmp_path):
        lk = TransactionalLake(
            spark, str(tmp_path / "c"), partition_by=("date",)
        )
        for d, lo in (("2024-06-01", 0), ("2024-06-15", 100)):
            lk.append(
                spark.createDataFrame(
                    [(lo + j, 1.0, d) for j in range(50)],
                    "k long, price double, date string",
                ).coalesce(1)
            )
        kept, total, _ = lk.prune_files(
            {"date": ("2024-06-10", None), "k": (0, 60)}
        )
        # date bound kills file 1; k bound kills file 2 -> nothing
        assert total == 2 and kept == []
        assert lk.scan_between(
            {"date": ("2024-06-10", None), "k": (0, 60)}
        ).count() == 0


@pytest.mark.parametrize(
    "partitioned, lo, hi, op",
    [
        (False, "2024-01-01 10:00:00", None, "scan"),
        (False, "2024-01-01T00:00:00", "2024-01-02", "scan"),
        (True, "2024-01-01 10:00:00", None, "scan"),
        (True, "2024-01-01T00:00:00", "2024-01-02", "scan"),
        (False, "2024-01-01 10:00:00", None, "delete"),
    ],
)
def test_date_against_time_spelled_bound_keeps_rows(
    spark, tmp_path, partitioned, lo, hi, op
):
    """A DATE stat or date partition value is stored date-only; Spark
    casts a bound spelled with a time part to a DATE, so the file
    holding that day may match and must not be skipped by reading the
    stored day as midnight (or by raw string order)."""
    lk = TransactionalLake(
        spark,
        str(tmp_path / "d"),
        partition_by=("d",) if partitioned else (),
    )
    for day in ("2024-01-01", "2024-01-03"):
        df = spark.createDataFrame([(1, day)], "k long, d string")
        if not partitioned:  # a DATE column; the partition stays string
            df = df.withColumn("d", F.to_date("d"))
        lk.append(df.coalesce(1))
    pred = " AND ".join(
        f"d {o} '{v}'" for o, v in ((">=", lo), ("<=", hi)) if v
    )
    matching = sorted(str(r.d) for r in lk.snapshot().filter(pred).collect())
    assert matching  # the 2024-01-01 row matches every case
    if op == "scan":
        got = lk.scan_between({"d": (lo, hi)}).collect()
        assert sorted(str(r.d) for r in got) == matching
    else:
        before = sorted(str(r.d) for r in lk.snapshot().collect())
        lk.delete_where(pred)
        left = sorted(str(r.d) for r in lk.snapshot().collect())
        assert left == sorted(set(before) - set(matching))


@pytest.mark.parametrize("op", ["scan", "delete"])
def test_fractional_string_bound_on_int_column_keeps_rows(
    spark, tmp_path, op
):
    """With ANSI off Spark casts the quoted bound '5.5' to the int 5,
    so ``i >= '5.5'`` matches 5: the file holding it must not be
    skipped by the exact compare 5 < 5.5."""
    key = "spark.sql.ansi.enabled"
    was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        lk = TransactionalLake(spark, str(tmp_path / "i"), partition_by=())
        lk.append(spark.createDataFrame([(3,), (5,)], "i int").coalesce(1))
        lk.append(spark.createDataFrame([(9,)], "i int").coalesce(1))
        pred = "i >= '5.5'"
        matching = sorted(r.i for r in lk.snapshot().filter(pred).collect())
        assert matching == [5, 9]
        if op == "scan":
            got = lk.scan_between({"i": ("5.5", None)}).collect()
            assert sorted(r.i for r in got) == matching
        else:
            lk.delete_where(pred)
            assert [r.i for r in lk.snapshot().collect()] == [3]
    finally:
        spark.conf.set(key, was)


def test_stats_unextractable_type_degrades_not_fails(spark, tmp_path):
    """r12 regression: pyarrow's stats caster raises
    ArrowNotImplementedError for some physical types (INT32-backed
    DECIMAL from a literal-typed SELECT). The commit must degrade
    that column to statless (conservative keep), never fail."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    tx = TransactionalLake(spark, str(tmp_path / "dec"), partition_by=())
    tx.append(spark.sql("SELECT 1 AS k, 3.0 AS v"))  # v: DECIMAL(2,1)
    tx.append(spark.sql("SELECT 2 AS k, 4.5 AS v"))
    got = sorted((r["k"], float(r["v"])) for r in tx.snapshot().collect())
    assert got == [(1, 3.0), (2, 4.5)]
    # k keeps its stats (skipping still works); v is statless
    kept, total, _ = tx.prune_files({"k": (2, 2)})
    assert total == 2 and len(kept) == 1


class TestSingleFooterReadCommit:
    """r14: the commit path reads each new file's footer exactly ONCE
    (it used to open it three times serially — empty-check, stats,
    rowcount — minutes of driver time at a 1000-file commit on object
    storage). The memo must also be equivalence-preserving: stats and
    rowcounts from the memo match a cold fallback read."""

    def test_one_footer_read_per_new_file(self, spark, tmp_path):
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        lake = TransactionalLake(
            spark, str(tmp_path / "t"), partition_by=()
        )
        calls = []
        orig = TransactionalLake._read_md

        def spy(path):
            calls.append(path)
            return orig(path)

        TransactionalLake._read_md = staticmethod(spy)
        try:
            lake.append(
                spark.range(1000)
                .selectExpr("id as k", "cast(id * 1.5 as double) as v")
                .repartition(6)
            )
        finally:
            TransactionalLake._read_md = staticmethod(orig)
        doc = lake.history()[0]
        n_files = len(doc["add"])
        assert n_files >= 2  # repartition(6) -> multiple files
        assert len(calls) == n_files, (len(calls), n_files)
        # and the memo was consumed: stats + rows rode the commit
        assert set(doc["stats"]) == set(doc["add"])
        assert sum(doc["rows"].values()) == 1000

    def test_fallback_read_matches_memo(self, spark, tmp_path):
        """Files NOT primed by _write_files (convert-in-place, COPY
        INTO refs) take the prefetch fallback — same stats, same
        rows."""
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        lake = TransactionalLake(
            spark, str(tmp_path / "t2"), partition_by=()
        )
        lake.append(
            spark.range(100).selectExpr(
                "id as k", "cast(id * 1.5 as double) as v"
            )
        )
        rels = lake.history()[0]["add"]
        memo_stats = lake.history()[0]["stats"]
        memo_rows = lake.history()[0]["rows"]
        lake._pending_file_info.clear()  # force the cold path
        assert lake._collect_stats(rels) == memo_stats
        lake._pending_file_info.clear()
        assert lake._collect_rows(rels) == memo_rows

    def test_prefetch_pool_many_files(self, spark, tmp_path):
        """>4 misses takes the thread-pooled branch; results are
        identical to the serial path."""
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        lake = TransactionalLake(
            spark, str(tmp_path / "t3"), partition_by=()
        )
        lake.append(
            spark.range(600)
            .selectExpr("id as k", "cast(id as double) as v")
            .repartition(8)
        )
        rels = lake.history()[0]["add"]
        assert len(rels) > 4
        committed = lake.history()[0]["stats"]
        lake._pending_file_info.clear()
        assert lake._collect_stats(rels) == committed

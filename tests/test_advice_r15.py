"""Pins for the r14 ADVICE fixes (r15).

1. medium — _strip_qualifier must anchor at the START of a reference
   path: with alias x, ``a.x.b`` is a struct field named x inside
   column a, not the alias (the old ``\\b`` matched after a dot and
   silently redirected the predicate: wrong-row DML).
2. low — conflicting correlation equalities (same target column bound
   to two source columns) refuse at the front with a named error.
3. low — the commit-path footer memo cannot accumulate across failed
   commits (finally-clear) or failed ops (cleared at staging entry).
4. low — footer-count anchors cross-check the scan's own file list
   (df.inputFiles()) before being trusted as exact.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from market_data_lakehouse_spark.sqlfront import LakeSQL
from market_data_lakehouse_spark.txnlog import TransactionalLake


class TestStripQualifierPathStart:
    def test_unit_struct_path_survives(self):
        assert LakeSQL._strip_qualifier("a.x.b = 1", "x") == "a.x.b = 1"
        assert LakeSQL._strip_qualifier("x.k = 1", "x") == "k = 1"
        assert (
            LakeSQL._strip_qualifier("x.k = 1 AND a.x.b = 2", "x")
            == "k = 1 AND a.x.b = 2"
        )
        # literals never rewrite; leading position still strips
        assert (
            LakeSQL._strip_qualifier("note = 'a.x.b' AND x.v > 0", "x")
            == "note = 'a.x.b' AND v > 0"
        )

    def test_struct_field_named_like_alias(self, spark, tmp_path):
        """DELETE FROM t AS x ... a.x.b must bind to the struct
        field, not rewrite to a.b (a DIFFERENT column's field)."""
        t = TransactionalLake(spark, str(tmp_path / "sp"),
                              partition_by=())
        t.append(
            spark.createDataFrame(
                [(0, (1, 9)), (1, (2, 1)), (2, (3, 1))],
                "k long, a struct<x: long, b: long>",
            ).select(
                "k",
                F.struct(
                    F.struct(
                        F.col("a.x").alias("b"),
                    ).alias("x"),
                    F.col("a.b").alias("b"),
                ).alias("a"),
            )
        )
        # a.x.b carries the original a.x value; a.b the original a.b
        fr = LakeSQL(spark)
        fr.register("t", t)
        fr.sql("DELETE FROM t AS x WHERE a.x.b = 1")
        got = sorted(r.k for r in fr.sql("SELECT k FROM t").collect())
        # only k=0 has a.x.b = 1; the buggy rewrite (a.b = 1) would
        # have deleted k=1 and k=2 instead
        assert got == [1, 2]


class TestConflictingCorrelationKeys:
    def _front(self, spark, tmp_path):
        t = TransactionalLake(spark, str(tmp_path / "ck_t"),
                              partition_by=())
        t.append(spark.createDataFrame([(0, 0.0)], "k long, v double"))
        s = TransactionalLake(spark, str(tmp_path / "ck_s"),
                              partition_by=())
        s.append(spark.createDataFrame(
            [(0, 1.0)], "a long, b double"))
        fr = LakeSQL(spark)
        fr.register("t", t)
        fr.register("s", s)
        return fr

    def test_exists_conflicting_keys_refused(self, spark, tmp_path):
        fr = self._front(spark, tmp_path)
        with pytest.raises(ValueError,
                           match="two different source columns"):
            fr.sql("DELETE FROM t WHERE EXISTS (SELECT 1 FROM s "
                   "WHERE s.a = t.k AND s.b = t.k)")

    def test_exists_duplicate_pair_collapses(self, spark, tmp_path):
        fr = self._front(spark, tmp_path)
        fr.sql("DELETE FROM t WHERE EXISTS (SELECT 1 FROM s "
               "WHERE s.a = t.k AND s.a = t.k)")
        assert fr.sql("SELECT COUNT(*) AS n FROM t").first()["n"] == 0


class TestFooterMemoLifecycle:
    def test_staging_clears_previous_leak(self, spark, tmp_path):
        t = TransactionalLake(spark, str(tmp_path / "memo"),
                              partition_by=())
        t._pending_file_info["stale-entry"] = {"rows": 1, "stats": None}
        t.append(spark.createDataFrame([(1,)], "k long"))
        assert t._pending_file_info == {}

    def test_failing_commit_clears_memo(self, spark, tmp_path,
                                        monkeypatch):
        t = TransactionalLake(spark, str(tmp_path / "memo2"),
                              partition_by=())

        def boom(rel_paths):
            raise RuntimeError("synthetic stats failure")

        monkeypatch.setattr(t, "_collect_rows", boom)
        with pytest.raises(RuntimeError, match="synthetic"):
            t.append(spark.createDataFrame([(1,)], "k long"))
        assert t._pending_file_info == {}


class TestRowcountExactCrossCheck:
    def test_matches_scan_file_list(self, spark, tmp_path):
        from market_data_lakehouse_spark.queries.catalog import (
            parquet_rowcount_exact,
        )

        sf = tmp_path / "sf"
        sf.mkdir()
        spark.range(10).coalesce(1).write.parquet(
            str(sf / "tbl.parquet")
        )
        df = spark.read.parquet(str(sf / "tbl.parquet"))
        assert parquet_rowcount_exact(str(sf), "tbl", df) == 10

    def test_layout_drift_returns_none(self, spark, tmp_path):
        from market_data_lakehouse_spark.queries.catalog import (
            parquet_rowcount_exact,
        )

        import shutil

        sf = tmp_path / "sf2"
        sf.mkdir()
        spark.range(10).coalesce(1).write.parquet(
            str(sf / "tbl.parquet")
        )
        df = spark.read.parquet(str(sf / "tbl.parquet"))
        # a stray file lands AFTER the scan resolved its file list
        first = sorted(
            f for f in os.listdir(sf / "tbl.parquet")
            if f.endswith(".parquet")
        )[0]
        shutil.copy(
            sf / "tbl.parquet" / first,
            sf / "tbl.parquet" / "stray-copy.parquet",
        )
        assert parquet_rowcount_exact(str(sf), "tbl", df) is None


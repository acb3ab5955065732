"""Stats-first adaptive plan gates (r11 VERDICT directive 5).

``TransactionalLake.stats_rowcount()`` answers the broadcast-gate
size question from ANALYZE metadata when it is provably still exact,
with zero Spark jobs; ``connected_components(n_nodes_bound=...)``
consumes it and skips the exact count. The contract under test:

- freshness: exact after ANALYZE; row-count-preserving commits
  (update / compact / rename) keep it; any row-changing commit
  (append / delete) drops it to None until the next ANALYZE.
- zero jobs: the metadata answer launches no Spark job.
- same plan choice: the stats-fed gate makes the SAME broadcast
  decision as the exact-count gate, and the component labeling is
  identical; the count job disappears from the job trace.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from market_data_lakehouse_spark.queries.dedup import connected_components
from market_data_lakehouse_spark.txnlog import TransactionalLake


def _jobs_so_far(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _mklake(spark, tmp_path, n=200):
    tx = TransactionalLake(spark, str(tmp_path / "t"), partition_by=())
    tx.append(
        spark.range(n).select(
            F.col("id").alias("u"), (F.col("id") % 10).alias("g")
        )
    )
    return tx


class TestStatsRowcount:
    def test_absent_before_analyze(self, spark, tmp_path):
        tx = _mklake(spark, tmp_path)
        assert tx.stats_rowcount() is None

    def test_fresh_after_analyze_and_zero_jobs(self, spark, tmp_path):
        tx = _mklake(spark, tmp_path)
        tx.analyze(columns=["u"])
        before = _jobs_so_far(spark)
        assert tx.stats_rowcount() == 200
        assert _jobs_so_far(spark) - before == 0, "metadata answer ran a job"

    def test_row_preserving_commits_keep_it(self, spark, tmp_path):
        tx = _mklake(spark, tmp_path)
        tx.analyze(columns=["u"])
        tx.set_properties({"owner": "x"})
        tx.rename_column("g", "grp")
        tx.update_where("u = 5", {"grp": "0"})
        tx.optimize()
        assert tx.stats_rowcount() == 200

    def test_row_changing_commits_invalidate(self, spark, tmp_path):
        tx = _mklake(spark, tmp_path)
        tx.analyze(columns=["u"])
        tx.append(
            spark.range(5).select(
                (F.col("id") + 1000).alias("u"), F.lit(0).alias("g")
            )
        )
        assert tx.stats_rowcount() is None
        tx.analyze(columns=["u"])
        assert tx.stats_rowcount() == 205
        tx.delete_where("u < 10")
        assert tx.stats_rowcount() is None


class TestStatsFedCCGate:
    def test_same_labels_same_choice_fewer_jobs(self, spark, tmp_path):
        tx = _mklake(spark, tmp_path, n=100)
        tx.analyze(columns=["u"])
        bound = tx.stats_rowcount()
        assert bound == 100
        verts = tx.snapshot().select("u")
        # ring edges within each g-residue class -> 10 components;
        # all endpoints are lake rows, so rows(lake) bounds the nodes
        edges = (
            tx.snapshot()
            .filter(F.col("u") < 90)
            .select(F.col("u"), (F.col("u") + 10).alias("v"))
        )

        gate_exact: dict = {}
        before = _jobs_so_far(spark)
        got_exact = sorted(
            (r["u"], r["lbl"])
            for r in connected_components(
                verts, edges, gate_info=gate_exact
            ).collect()
        )
        jobs_exact = _jobs_so_far(spark) - before

        gate_stats: dict = {}
        before = _jobs_so_far(spark)
        got_stats = sorted(
            (r["u"], r["lbl"])
            for r in connected_components(
                verts, edges, n_nodes_bound=bound, gate_info=gate_stats
            ).collect()
        )
        jobs_stats = _jobs_so_far(spark) - before

        assert got_stats == got_exact
        assert {(u % 10) for u, _ in got_exact} == set(range(10))
        assert gate_exact["source"] == "exact"
        assert gate_stats["source"] == "bound"
        # same plan choice from the stats bound as from the count
        assert gate_stats["broadcast"] == gate_exact["broadcast"] is True
        # and the gate's counting job is GONE (everything else in the
        # two runs is identical round-for-round)
        assert jobs_stats < jobs_exact, (jobs_stats, jobs_exact)

    def test_oversized_bound_only_disables_broadcast(self, spark, tmp_path):
        # an over-estimate must degrade to the shuffle path, never
        # broadcast something bigger than the gate believed
        tx = _mklake(spark, tmp_path, n=50)
        verts = tx.snapshot().select("u")
        edges = verts.filter(F.col("u") < 49).select(
            "u", (F.col("u") + 1).alias("v")
        )
        gate: dict = {}
        labels = connected_components(
            verts, edges, n_nodes_bound=10**9, gate_info=gate
        )
        assert gate["broadcast"] is False and gate["source"] == "bound"
        assert labels.select(F.countDistinct("lbl")).first()[0] == 1


class TestParquetFooterBound:
    """r13 (r12 VERDICT directive 5): driver tables are plain parquet
    (no lake, no ANALYZE), but their FOOTERS record exact row counts
    — parquet_rowcount_bound() answers the CC gate's size question
    with zero Spark jobs, and the e2_dedup_clusters / g5 callers
    consume it."""

    SF = "/root/testdata/sf0.001"

    def test_matches_actual_count_zero_jobs(self, spark):
        from market_data_lakehouse_spark.queries.catalog import (
            load,
            parquet_rowcount_bound,
        )

        actual = load(spark, self.SF, "documents").count()
        before = _jobs_so_far(spark)
        bound = parquet_rowcount_bound(self.SF, "documents")
        assert _jobs_so_far(spark) - before == 0, "footer read ran a job"
        assert bound == actual
        # multi-table sum (the g5 shape)
        two = parquet_rowcount_bound(self.SF, "customer", "supplier")
        c = load(spark, self.SF, "customer").count()
        s = load(spark, self.SF, "supplier").count()
        assert two == c + s

    def test_missing_table_returns_none(self, spark, tmp_path):
        from market_data_lakehouse_spark.queries.catalog import (
            parquet_rowcount_bound,
        )

        assert parquet_rowcount_bound(str(tmp_path), "nope") is None

    def test_colrange_api_drift_fails_soft_and_warns(
        self, tmp_path, monkeypatch
    ):
        """An AttributeError from the pyarrow footer API turns the
        colrange gate off (None: the wide path) with a warning, not
        a crash of the calling query."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        import pytest

        from market_data_lakehouse_spark.queries.catalog import (
            parquet_colrange_bound,
        )

        pq.write_table(
            pa.table({"id": [1, 2, 3]}), str(tmp_path / "t.parquet")
        )
        assert parquet_colrange_bound(str(tmp_path), "t", "id") == (1, 3)

        def _drifted(*a, **k):
            raise AttributeError("'FileMetaData' has no attribute 'x'")

        monkeypatch.setattr(pq, "ParquetFile", _drifted)
        with pytest.warns(RuntimeWarning, match="colrange narrowing gate"):
            assert parquet_colrange_bound(
                str(tmp_path), "t", "id2"
            ) is None

    def test_footer_bound_feeds_cc_gate(self, spark):
        """Same labels, same broadcast choice, one fewer job than the
        exact-count path — on the real documents table."""
        from market_data_lakehouse_spark.queries.catalog import (
            load,
            parquet_rowcount_bound,
        )

        docs = load(spark, self.SF, "documents").select(
            F.col("doc_id").alias("u")
        )
        edges = docs.filter(F.col("u") % 3 == 0).select(
            "u", (F.col("u") + 3).alias("v")
        )
        gate_exact: dict = {}
        before = _jobs_so_far(spark)
        got_exact = sorted(
            (r["u"], r["lbl"])
            for r in connected_components(
                docs, edges, gate_info=gate_exact
            ).collect()
        )
        jobs_exact = _jobs_so_far(spark) - before
        gate_stats: dict = {}
        before = _jobs_so_far(spark)
        got_stats = sorted(
            (r["u"], r["lbl"])
            for r in connected_components(
                docs, edges,
                n_nodes_bound=parquet_rowcount_bound(
                    self.SF, "documents"
                ),
                gate_info=gate_stats,
            ).collect()
        )
        jobs_stats = _jobs_so_far(spark) - before
        assert got_stats == got_exact
        assert gate_stats["source"] == "bound"
        assert gate_stats["broadcast"] == gate_exact["broadcast"] is True
        assert jobs_stats < jobs_exact, (jobs_stats, jobs_exact)


class TestFooterBoundGates:
    """r14 (VERDICT directive 6): the remaining exact-count gate
    sites answer from parquet footers — same output, zero count
    jobs. For a RAW driver table the footer sum is EXACT, so even
    output-anchoring counts (e2_semantic_dedup's n_vecs) can use it."""

    def test_footer_count_exact_and_jobless(self, spark, sf_dir):
        from market_data_lakehouse_spark.queries.catalog import (
            load,
            parquet_rowcount_bound,
        )

        exact = load(spark, sf_dir, "embeddings").count()
        before = _jobs_so_far(spark)
        bound = parquet_rowcount_bound(sf_dir, "embeddings")
        assert _jobs_so_far(spark) - before == 0, "footer read ran a job"
        assert bound == exact

    def test_pq_train_bound_same_codebooks_fewer_jobs(
        self, spark, sf_dir
    ):
        import numpy as np

        from market_data_lakehouse_spark.queries.catalog import (
            load,
            parquet_rowcount_bound,
        )
        from market_data_lakehouse_spark.queries.similarity import (
            _pq_train,
        )

        em = load(spark, sf_dir, "embeddings")
        em.count()  # warm the scan so job counts compare like for like
        j0 = _jobs_so_far(spark)
        books_exact = _pq_train(em)
        jobs_exact = _jobs_so_far(spark) - j0
        j0 = _jobs_so_far(spark)
        books_bound = _pq_train(
            em, n_bound=parquet_rowcount_bound(sf_dir, "embeddings")
        )
        jobs_bound = _jobs_so_far(spark) - j0
        assert np.array_equal(books_exact, books_bound)
        # the count() can span >1 job (AQE stages); the pin is that
        # the bound path launches strictly fewer
        assert jobs_bound < jobs_exact, (
            f"expected the count job(s) to disappear: "
            f"{jobs_exact} -> {jobs_bound}"
        )

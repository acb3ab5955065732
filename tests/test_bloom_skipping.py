"""Per-file bloom-filter skipping (Delta bloom-filter-index analog).

min/max stats cannot prune an equality probe on a high-cardinality
UNSORTED column — every file's [min, max] straddles every key. The
bloom path must (a) skip files that provably lack the key, (b) never
skip a file that holds it (false positives only KEEP), (c) survive
checkpoint folding and log vacuum, and (d) ride DML rewrites like any
other add-commit metadata.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from market_data_lakehouse_spark.txnlog import (
    BLOOM_BITS_PER_KEY,
    BLOOM_K,
    BLOOM_M_MAX,
    BLOOM_M_MIN,
    TransactionalLake,
    _bloom_hashes,
    _bloom_m_for,
)


def _bars(spark, symbols, base):
    rows = [
        (s, base + i, float(100 + i)) for i, s in enumerate(symbols)
    ]
    return spark.createDataFrame(rows, ["symbol", "event_id", "price"])


def _make_lake(spark, tmp_path, **kw):
    return TransactionalLake(
        spark,
        str(tmp_path / "lake"),
        partition_by=(),
        bloom_columns=("symbol",),
        **kw,
    )


class TestBloomPruning:
    def test_point_lookup_skips_disjoint_files(self, spark, tmp_path):
        lake = _make_lake(spark, tmp_path)
        # three files with disjoint, UNSORTED symbol universes whose
        # lexicographic ranges all overlap — min/max can never prune
        lake.append(_bars(spark, ["AAA", "ZZZ", "MMM"], 0).coalesce(1))
        lake.append(_bars(spark, ["ABB", "ZYY", "MNN"], 10).coalesce(1))
        lake.append(_bars(spark, ["ACC", "ZXX", "MOO"], 20).coalesce(1))

        kept, total, _ = lake.prune_files({}, equals={"symbol": "MNN"})
        assert total == 3
        assert len(kept) == 1, kept  # only file 2 can hold MNN

        # min/max alone keeps everything (ranges overlap)
        kept_mm, _, _ = lake.prune_files({"symbol": ("MNN", "MNN")})
        assert len(kept_mm) == 3

    def test_scan_equals_full_filter(self, spark, tmp_path):
        lake = _make_lake(spark, tmp_path)
        lake.append(_bars(spark, ["AAA", "ZZZ", "MMM"], 0).coalesce(1))
        lake.append(_bars(spark, ["ABB", "ZYY", "MNN"], 10).coalesce(1))
        got = lake.scan_between({}, equals={"symbol": "ZYY"}).collect()
        want = (
            lake.snapshot().filter(F.col("symbol") == "ZYY").collect()
        )
        assert [r.asDict() for r in got] == [r.asDict() for r in want]

    def test_absent_key_prunes_everything(self, spark, tmp_path):
        lake = _make_lake(spark, tmp_path)
        lake.append(_bars(spark, ["AAA", "BBB"], 0).coalesce(1))
        lake.append(_bars(spark, ["CCC", "DDD"], 10).coalesce(1))
        kept, _, _ = lake.prune_files({}, equals={"symbol": "NOPE"})
        # false positives may keep a file, but with 4 values in a
        # 2048-bit filter a miss is overwhelmingly definite
        assert len(kept) == 0, kept
        assert (
            lake.scan_between({}, equals={"symbol": "NOPE"}).count() == 0
        )

    def test_unbloomed_lake_is_conservative(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "plain"), partition_by=()
        )
        lake.append(_bars(spark, ["AAA", "ZZZ"], 0).coalesce(1))
        lake.append(_bars(spark, ["ABB", "ZYY"], 10).coalesce(1))
        kept, total, _ = lake.prune_files({}, equals={"symbol": "ABB"})
        assert (len(kept), total) == (2, 2)  # no blooms: keep all

    def test_int_column_bloom(self, spark, tmp_path):
        lake = TransactionalLake(
            spark,
            str(tmp_path / "ints"),
            partition_by=(),
            bloom_columns=("event_id",),
        )
        lake.append(_bars(spark, ["A", "B"], 0).coalesce(1))  # ids 0,1
        lake.append(_bars(spark, ["C", "D"], 1000).coalesce(1))
        kept, _, _ = lake.prune_files({}, equals={"event_id": 1001})
        assert len(kept) == 1
        got = lake.scan_between({}, equals={"event_id": 1001}).collect()
        assert len(got) == 1 and got[0].symbol == "D"

    def test_unbloomable_type_is_silently_skipped(self, spark, tmp_path):
        lake = TransactionalLake(
            spark,
            str(tmp_path / "dbl"),
            partition_by=(),
            bloom_columns=("price",),  # double: not bloomable
        )
        lake.append(_bars(spark, ["A"], 0).coalesce(1))
        assert lake._blooms_index() == {}
        kept, total, _ = lake.prune_files({}, equals={"price": 100.0})
        assert (len(kept), total) == (1, 1)  # conservative keep


    def test_mistyped_probe_keeps_files(self, spark, tmp_path):
        """A bloom hashes the value's canonical string, but Spark
        casts a mistyped literal: ``s = 5`` on a string column
        matches '05'. A probe runs only for a value of the column's
        own type; the others keep the file."""
        lake = TransactionalLake(
            spark,
            str(tmp_path / "typed"),
            partition_by=(),
            bloom_columns=("s",),
        )
        for vals in (("05", "07"), ("11", "13")):
            lake.append(
                spark.createDataFrame([(v,) for v in vals], "s string")
                .coalesce(1)
            )
        want = sorted(r.s for r in lake.snapshot().filter("s = 5").collect())
        assert want == ["05"]
        got = lake.scan_between({}, equals={"s": 5}).collect()
        assert sorted(r.s for r in got) == want
        # a value of the column's own type still prunes by bloom:
        # '06' lies inside the first file's [min, max]
        kept, total, _ = lake.prune_files({}, equals={"s": "06"})
        assert (len(kept), total) == (0, 2)


class TestBloomLifecycle:
    def test_blooms_survive_checkpoint_and_vacuum(self, spark, tmp_path):
        lake = _make_lake(spark, tmp_path, checkpoint_every=2)
        lake.append(_bars(spark, ["AAA", "ZZZ"], 0).coalesce(1))
        lake.append(_bars(spark, ["ABB", "ZYY"], 10).coalesce(1))
        lake.append(_bars(spark, ["ACC", "ZXX"], 20).coalesce(1))
        assert lake.vacuum_log() > 0  # truncate below the checkpoint
        kept, total, _ = lake.prune_files({}, equals={"symbol": "ZYY"})
        assert total == 3
        assert len(kept) == 1, kept  # folded bloom still prunes

    def test_delete_rewrite_refreshes_blooms(self, spark, tmp_path):
        lake = _make_lake(spark, tmp_path)
        lake.append(
            _bars(spark, ["AAA", "ZZZ", "MMM", "QQQ"], 0).coalesce(1)
        )
        lake.append(_bars(spark, ["ABB", "ZYY"], 10).coalesce(1))
        lake.delete_where("symbol = 'MMM'")  # rewrites file 1
        kept, total, _ = lake.prune_files({}, equals={"symbol": "MMM"})
        assert total == 2
        assert len(kept) == 0, kept  # rewritten file's bloom lacks MMM
        kept_q, _, _ = lake.prune_files({}, equals={"symbol": "QQQ"})
        assert len(kept_q) == 1  # survivors still probe true


class TestBloomKernel:
    def test_hashes_deterministic(self):
        h = _bloom_hashes("AAPL")
        assert h == _bloom_hashes("AAPL")
        assert len(h) == BLOOM_K
        assert _bloom_hashes(42) == _bloom_hashes("42")

    def test_unbloomable_values(self):
        assert _bloom_hashes(None) is None
        assert _bloom_hashes(True) is None
        assert _bloom_hashes(1.5) is None

    def test_geometry_sizing(self):
        assert _bloom_m_for(1) == BLOOM_M_MIN
        assert _bloom_m_for(100) == BLOOM_M_MIN
        m = _bloom_m_for(1000)  # needs 16000 bits -> 2^14
        assert m == 1 << 14 and m & (m - 1) == 0
        assert _bloom_m_for(BLOOM_M_MAX // BLOOM_BITS_PER_KEY) == BLOOM_M_MAX
        # past the cap the filter would saturate: no bloom at all
        assert _bloom_m_for(BLOOM_M_MAX // BLOOM_BITS_PER_KEY + 1) is None

    def test_adaptive_sizing_end_to_end(self, spark, tmp_path):
        """A 3000-key file must get a bigger-than-min geometry and
        still prune a missing probe; the fixed pre-sizing geometry
        saturated at this size (r7's first cut failed exactly here)."""
        lake = TransactionalLake(
            spark,
            str(tmp_path / "big"),
            partition_by=(),
            bloom_columns=("event_id",),
        )
        df = spark.range(3000).select(
            F.col("id").alias("event_id"), F.lit("x").alias("symbol")
        )
        lake.append(df.coalesce(1))
        (bloom,) = lake._blooms_index().values()
        m = bloom["event_id"]["m"]
        assert m > BLOOM_M_MIN and m & (m - 1) == 0
        kept, _, _ = lake.prune_files({}, equals={"event_id": 999999})
        assert kept == []


class TestDescribeDetail:
    def test_detail_and_files_reflect_log_metadata(self, spark, tmp_path):
        lake = TransactionalLake(
            spark,
            str(tmp_path / "det"),
            partition_by=(),
            bloom_columns=("symbol",),
        )
        lake.append(_bars(spark, ["AAA", "BBB"], 0).coalesce(1))
        lake.append(_bars(spark, ["CCC", "DDD"], 10).coalesce(1))
        lake.delete_where("symbol = 'AAA'", mode="dv")
        d = lake.detail()
        assert d["version"] == 2 and d["num_files"] == 2
        assert d["size_bytes"] > 0
        assert d["num_files_with_stats"] == 2
        assert d["num_files_with_bloom"] == 2
        assert (d["num_deletion_vectors"], d["num_deleted_rows"]) == (1, 1)
        f = {r.path: r for r in lake.files().collect()}
        assert len(f) == 2
        assert all("symbol" in r.bloom_columns for r in f.values())
        assert sum(r.deleted_rows for r in f.values()) == 1
        assert all(r.size_bytes > 0 for r in f.values())


class TestLogOwnedBloomColumns:
    """r12: the bloom-column set is log-owned like generated columns
    — a reopener that omits the ctor arg keeps building blooms
    instead of silently degrading skipping for its files."""

    def test_reopener_adopts_recorded_set(self, spark, tmp_path):
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        path = str(tmp_path / "lb")
        a = TransactionalLake(spark, path, partition_by=(),
                              bloom_columns=("k",))
        a.append(spark.createDataFrame(
            [(i, "x") for i in range(50)], "k int, v string").coalesce(1))
        b = TransactionalLake(spark, path, partition_by=())  # omits arg
        assert b.bloom_columns == ("k",)
        b.append(spark.createDataFrame(
            [(i + 100, "y") for i in range(50)],
            "k int, v string").coalesce(1))
        # both files carry blooms: an equality probe prunes to 1 file
        kept, total, _ = b.prune_files({"k": (7, 7)})
        assert total == 2 and len(kept) == 1

    def test_set_bloom_columns_commit(self, spark, tmp_path):
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        path = str(tmp_path / "lb2")
        a = TransactionalLake(spark, path, partition_by=())
        a.append(spark.createDataFrame(
            [(1, "x")], "k int, v string").coalesce(1))
        assert a.bloom_columns == ()
        a.set_bloom_columns(["k"])
        a.append(spark.createDataFrame(
            [(2, "y")], "k int, v string").coalesce(1))
        # adopted by a fresh reopener, survives further commits
        b = TransactionalLake(spark, path, partition_by=())
        assert b.bloom_columns == ("k",)
        b.set_bloom_columns(())
        c = TransactionalLake(spark, path, partition_by=())
        assert c.bloom_columns == ()

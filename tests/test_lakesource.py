"""lake_changes: streaming FROM the transactional lake. Every commit
becomes a micro-batch slice; restarts resume from the checkpointed
version; delete-bearing commits fail loudly unless opted into."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from market_data_lakehouse_spark.lakesource import (
    register_lake_changes_source,
)
from market_data_lakehouse_spark.txnlog import TransactionalLake


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"s{i % 3}", float(i), "2024-06-15") for i in range(lo, hi)],
        "k long, sym string, price double, date string",
    )


def _drain(spark, path, out_dir, ckpt, **opts):
    reader = spark.readStream.format("lake_changes").option("path", path)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.read.parquet(out_dir)


class TestLakeChangesSource:
    def test_appends_stream_with_versions(self, spark, tmp_path):
        register_lake_changes_source(spark)
        lake = TransactionalLake(
            spark, str(tmp_path / "lake"), partition_by=("date",)
        )
        lake.append(_rows(spark, 0, 5))  # v0
        lake.append(_rows(spark, 5, 8))  # v1
        got = _drain(
            spark,
            lake.path,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
        )
        rows = {
            (r.k, r.sym, r.price, str(r.date), r._commit_version)
            for r in got.collect()
        }
        assert len(rows) == 8
        assert {r[4] for r in rows} == {0, 1}
        # partition column restored from the hive path
        assert all(r[3] == "2024-06-15" for r in rows)
        # restart with more commits: only the NEW versions stream
        lake.append(_rows(spark, 8, 10))  # v2
        got2 = _drain(
            spark,
            lake.path,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
        )
        assert got2.count() == 10  # 8 old + 2 new in the sink
        new = got2.filter(F.col("_commit_version") == 2)
        assert sorted(r.k for r in new.collect()) == [8, 9]

    def test_delete_commit_fails_stream_by_default(self, spark, tmp_path):
        register_lake_changes_source(spark)
        lake = TransactionalLake(
            spark, str(tmp_path / "lake"), partition_by=()
        )
        lake.append(_rows(spark, 0, 6).coalesce(1))
        lake.delete_where("k = 2", mode="dv")
        with pytest.raises(Exception, match="ignore_deletes"):
            _drain(
                spark,
                lake.path,
                str(tmp_path / "out"),
                str(tmp_path / "ck"),
            )

    def test_ignore_deletes_streams_adds_only(self, spark, tmp_path):
        register_lake_changes_source(spark)
        lake = TransactionalLake(
            spark, str(tmp_path / "lake"), partition_by=()
        )
        lake.append(_rows(spark, 0, 4).coalesce(1))  # v0
        lake.delete_where("k = 1")  # v1: rewrite (remove + add)
        got = _drain(
            spark,
            lake.path,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
            ignore_deletes="true",
        )
        # v0 adds all 4; v1's rewritten file re-adds the 3 survivors
        assert got.count() == 7
        assert sorted(
            r.k for r in got.filter("_commit_version = 1").collect()
        ) == [0, 2, 3]

    def test_compaction_is_invisible(self, spark, tmp_path):
        register_lake_changes_source(spark)
        lake = TransactionalLake(
            spark, str(tmp_path / "lake"), partition_by=()
        )
        lake.append(_rows(spark, 0, 4).coalesce(1))
        lake.append(_rows(spark, 4, 6).coalesce(1))
        lake.optimize()  # v2: layout only
        got = _drain(
            spark,
            lake.path,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
        )
        assert got.count() == 6
        assert got.filter("_commit_version = 2").count() == 0

    def test_schema_evolution_null_fills_old_files(self, spark, tmp_path):
        register_lake_changes_source(spark)
        lake = TransactionalLake(
            spark, str(tmp_path / "lake"), partition_by=()
        )
        lake.append(_rows(spark, 0, 3).coalesce(1))
        wider = _rows(spark, 3, 5).withColumn("note", F.lit("new"))
        lake.append(wider.coalesce(1), merge_schema=True)
        got = _drain(
            spark,
            lake.path,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
        )
        rows = {(r.k, r.note) for r in got.collect()}
        assert rows == {
            (0, None), (1, None), (2, None), (3, "new"), (4, "new"),
        }


class TestMedallionHop:
    def test_lake_to_lake_scd2_pipeline(self, spark, tmp_path):
        """The composition the pieces add up to: a bronze fact lake is
        the STREAMING SOURCE (lake_changes) feeding the SCD2 sink into
        a silver dimension lake — lake-to-lake, exactly-once on both
        ends, and the result must equal the batch rebuild of bronze's
        full history."""
        from market_data_lakehouse_spark.scd import scd2_rebuild
        from market_data_lakehouse_spark.streaming import stream_scd2

        register_lake_changes_source(spark)
        bronze = TransactionalLake(
            spark, str(tmp_path / "bronze"), partition_by=()
        )
        changes = [
            ("A", "bronze", 100, 1), ("B", "bronze", 150, 2),
            ("A", "silver", 300, 3), ("B", "silver", 450, 4),
            ("A", "gold", 500, 5),
        ]

        def _df(rows):
            return spark.createDataFrame(
                rows, "k string, tier string, ts long, seq long"
            )

        bronze.append(_df(changes[:2]).coalesce(1))  # v0
        bronze.append(_df(changes[2:4]).coalesce(1))  # v1
        bronze.append(_df(changes[4:]).coalesce(1))  # v2

        silver = TransactionalLake(
            spark, str(tmp_path / "silver"), partition_by=()
        )
        stream = (
            spark.readStream.format("lake_changes")
            .option("path", bronze.path)
            .load()
            .drop("_commit_version")
        )
        q = stream_scd2(
            stream,
            silver,
            keys="k",
            ts_col="ts",
            value_cols=("tier",),
            checkpoint_dir=str(tmp_path / "ck"),
            tiebreak="seq",
            available_now=True,
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()
        got = sorted(
            (r.k, r.tier, r.valid_from, r.valid_to, r.is_current)
            for r in silver.snapshot().collect()
        )
        want = sorted(
            (r.k, r.tier, r.valid_from, r.valid_to, r.is_current)
            for r in scd2_rebuild(
                _df(changes), ["k"], "ts", ["tier"], tiebreak="seq"
            ).collect()
        )
        assert got == want


class TestTypedPartitionColumns:
    def test_timestamp_and_decimal_partition_columns(self, spark, tmp_path):
        """A timestamp- or decimal-typed partition column must stream
        back TYPED (parsed from the hive directory name via Spark's
        own path codec), not as a raw string that fails the Arrow
        cast at executor read time (r7 ADVICE)."""
        register_lake_changes_source(spark)
        lake = TransactionalLake(
            spark, str(tmp_path / "lake"), partition_by=("ts", "rate")
        )
        df = spark.sql(
            """
            SELECT id,
                   timestamp(concat('2024-06-0', 1 + id % 2, ' 03:04:05'))
                     AS ts,
                   CAST(1.25 * (1 + id % 2) AS DECIMAL(10,2)) AS rate
            FROM range(6) AS t(id)
            """
        )
        lake.append(df)
        got = _drain(
            spark,
            lake.path,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
        )
        assert dict(got.dtypes)["ts"] == "timestamp"
        assert dict(got.dtypes)["rate"] == "decimal(10,2)"
        rows = {(r.id, str(r.ts), str(r.rate)) for r in got.collect()}
        assert rows == {
            (i, f"2024-06-0{1 + i % 2} 03:04:05", f"{1.25 * (1 + i % 2):.2f}")
            for i in range(6)
        }

    def test_unsupported_partition_type_warns_at_construction(
        self, spark, tmp_path
    ):
        """An interval-typed column (no Arrow analog here) must WARN
        at construction — not block the stream (ADVICE r8: a column
        read directly from parquet never needs an Arrow type, so the
        old hard raise broke streams that worked fine) — while the
        hard, attributable TypeError stays at the point an Arrow type
        is actually required (partition restore / evolved-column
        null fill)."""
        from pyspark.sql.types import StructField, StructType

        from market_data_lakehouse_spark.lakesource import (
            LakeChangesStreamReader,
            _arrow_type,
        )
        import pyspark.sql.types as T

        schema = StructType(
            [StructField("v", T.CalendarIntervalType())]
        )
        with pytest.warns(UserWarning, match="no Arrow mapping"):
            LakeChangesStreamReader({"path": str(tmp_path)}, schema)
        with pytest.raises(TypeError, match="unsupported column type"):
            _arrow_type(T.CalendarIntervalType())


class TestColumnMappingSource:
    def test_stream_from_renamed_table_emits_logical_names(
        self, spark, tmp_path
    ):
        """r10: a column-mapping table streams with LOGICAL column
        names (same contract as snapshot()): the reader keys parquet
        and partition-dir lookups on the physical names, which never
        change — files written before AND after the rename both
        stream under the current logical schema."""
        register_lake_changes_source(spark)
        lake = TransactionalLake(
            spark, str(tmp_path / "lake"), partition_by=("date",)
        )
        lake.append(_rows(spark, 0, 5))  # v0: physical name 'price'
        lake.rename_column("price", "px")
        lake.append(
            spark.createDataFrame(
                [(i, f"s{i % 3}", float(i), "2024-06-16")
                 for i in range(5, 8)],
                "k long, sym string, px double, date string",
            )
        )
        got = _drain(
            spark,
            lake.path,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
        )
        assert "px" in got.columns and "price" not in got.columns
        assert got.count() == 8
        assert sorted(r.px for r in got.collect()) == [
            float(i) for i in range(8)
        ]

    def test_stream_excludes_dropped_column(self, spark, tmp_path):
        register_lake_changes_source(spark)
        lake = TransactionalLake(
            spark, str(tmp_path / "lake2"), partition_by=()
        )
        lake.append(
            spark.createDataFrame(
                [(1, "a", 9.0)], "id long, tag string, junk double"
            )
        )
        lake.drop_column("junk")
        got = _drain(
            spark,
            lake.path,
            str(tmp_path / "out2"),
            str(tmp_path / "ck2"),
        )
        assert sorted(got.columns) == ["_commit_version", "id", "tag"]


class TestMergedStreamSchema:
    def test_stream_schema_is_union_after_narrow_append(
        self, spark, tmp_path
    ):
        """r10: a narrow batch landing last must not hide evolved
        columns from the stream schema (merged history, not the
        newest commit's batch schema)."""
        register_lake_changes_source(spark)
        lake = TransactionalLake(
            spark, str(tmp_path / "lk"), partition_by=()
        )
        lake.append(
            spark.createDataFrame(
                [(1, 10.0, 100)], "k long, price double, x long"
            )
        )
        lake.append(
            spark.createDataFrame([(2, 20.0)], "k long, price double")
        )
        got = _drain(
            spark,
            lake.path,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
        )
        assert sorted(got.columns) == [
            "_commit_version", "k", "price", "x",
        ]
        vals = {r.k: r.x for r in got.collect()}
        assert vals == {1: 100, 2: None}, vals

    def test_overwrite_resets_stream_schema(self, spark, tmp_path):
        """An overwrite restarts the schema history (schema_reset):
        the stream schema follows snapshot(), not the union of the
        pre-overwrite batches."""
        register_lake_changes_source(spark)
        lake = TransactionalLake(
            spark, str(tmp_path / "ow"), partition_by=()
        )
        lake.append(
            spark.createDataFrame(
                [(1, 10.0, 100)], "k long, price double, x long"
            )
        )
        lake.overwrite(
            spark.createDataFrame([(2, 20.0)], "k long, price double")
        )
        assert lake.snapshot().columns == ["k", "price"]
        got = _drain(
            spark,
            lake.path,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
            ignore_deletes="true",
            starting_version="1",
        )
        assert got.columns == ["k", "price", "_commit_version"]
        assert [(r.k, r.price) for r in got.collect()] == [(2, 20.0)]


class TestRowIdStream:
    """r10: with_row_ids=true — row lineage in the stream. Ids are
    computed executor-side at the Arrow level: per-file base +
    row-index, coalesced with the materialized id a rewrite
    carried."""

    def test_stream_ids_match_snapshot(self, spark, tmp_path):
        register_lake_changes_source(spark)
        path = str(tmp_path / "rts")
        lake = TransactionalLake(spark, path, partition_by=())
        lake.append(_rows(spark, 0, 6).repartition(2))
        lake.enable_row_tracking()
        lake.append(_rows(spark, 6, 9))
        got = _drain(
            spark, path, str(tmp_path / "out"), str(tmp_path / "ck"),
            with_row_ids="true",
        )
        assert "_row_id" in got.columns
        stream_ids = {r["_row_id"]: r.k for r in got.collect()}
        snap_ids = {
            r["_row_id"]: r.k
            for r in lake.snapshot(with_row_ids=True).collect()
        }
        assert stream_ids == snap_ids

    def test_rewritten_files_carry_materialized_ids(
        self, spark, tmp_path
    ):
        register_lake_changes_source(spark)
        path = str(tmp_path / "rtm")
        lake = TransactionalLake(spark, path, partition_by=())
        lake.append(_rows(spark, 0, 8).coalesce(1))
        lake.enable_row_tracking()
        before = {
            r["_row_id"]: r.k
            for r in lake.snapshot(with_row_ids=True).collect()
        }
        v0 = lake.version
        lake.update_where("k = 3", {"price": "99.0"})  # CoW rewrite
        got = _drain(
            spark, path, str(tmp_path / "out2"), str(tmp_path / "ck2"),
            with_row_ids="true", ignore_deletes="true",
            starting_version=str(v0 + 1),
        )
        # the rewritten file streams every surviving row under its
        # ORIGINAL id (materialized through the rewrite)
        assert {r["_row_id"]: r.k for r in got.collect()} == before

    def test_ids_from_multipart_checkpoint(self, spark, tmp_path):
        """The newest checkpoint is multipart, so its root carries no
        row-tracking bases: the stream must reassemble the parts,
        like every other log read."""
        register_lake_changes_source(spark)
        path = str(tmp_path / "rtp")
        lake = TransactionalLake(spark, path, partition_by=())
        lake.set_properties({"checkpoint.partSize": "1"})
        for lo in (0, 3, 6):
            lake.append(_rows(spark, lo, lo + 3).coalesce(1))
        lake.enable_row_tracking()
        lake.checkpoint()
        with open(
            os.path.join(path, "_txn_log", f"{lake.version:08d}.checkpoint")
        ) as fh:
            root = json.load(fh)
        assert root["parts"] == 3 and root["row_tracking"]["base"] == {}
        got = _drain(
            spark, path, str(tmp_path / "out"), str(tmp_path / "ck"),
            with_row_ids="true",
        )
        stream_ids = {r["_row_id"]: r.k for r in got.collect()}
        snap_ids = {
            r["_row_id"]: r.k
            for r in lake.snapshot(with_row_ids=True).collect()
        }
        assert len(snap_ids) == 9
        assert stream_ids == snap_ids

    def test_requires_tracking(self, spark, tmp_path):
        register_lake_changes_source(spark)
        path = str(tmp_path / "rtn")
        lake = TransactionalLake(spark, path, partition_by=())
        lake.append(_rows(spark, 0, 3))
        with pytest.raises(Exception, match="enable_row_tracking"):
            _drain(
                spark, path, str(tmp_path / "out3"),
                str(tmp_path / "ck3"), with_row_ids="true",
            )


class TestStartingTimestamp:
    def test_stream_from_timestamp(self, spark, tmp_path):
        """Delta startingTimestamp semantics: begin at the first
        commit at or after the timestamp (sound under clock skew —
        the log clamps commit times monotonic)."""
        register_lake_changes_source(spark)
        path = str(tmp_path / "st")
        lake = TransactionalLake(spark, path, partition_by=())
        lake.append(_rows(spark, 0, 3))
        cut = lake._read_commit(lake.version)["timestamp"] + 1e-4
        lake.append(_rows(spark, 3, 5))
        got = _drain(
            spark, path, str(tmp_path / "out"), str(tmp_path / "ck"),
            starting_timestamp=str(cut),
        )
        assert sorted(r.k for r in got.collect()) == [3, 4]

    def test_both_options_rejected(self, spark, tmp_path):
        register_lake_changes_source(spark)
        path = str(tmp_path / "st2")
        lake = TransactionalLake(spark, path, partition_by=())
        lake.append(_rows(spark, 0, 2))
        with pytest.raises(Exception, match="not both"):
            _drain(
                spark, path, str(tmp_path / "o2"), str(tmp_path / "c2"),
                starting_version="0", starting_timestamp="0",
            )


def _drain_capped(spark, path, out_dir, ckpt, expect_rows, **opts):
    """Continuous-trigger drain for rate-limited streams: availableNow
    snapshots ONE latestOffset as the run's end (the Python source
    API has no ReadLimit), so capped draining needs a processing-time
    trigger; stop once the sink holds the expected rows."""
    import time as _t

    reader = spark.readStream.format("lake_changes").option("path", path)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _t.time() + 240
        while _t.time() < deadline:
            try:
                if spark.read.parquet(out_dir).count() >= expect_rows:
                    break
            except Exception:
                pass
            _t.sleep(0.5)
    finally:
        q.stop()
    return spark.read.parquet(out_dir)


class TestRateLimiting:
    """r11: admission control (Delta maxFilesPerTrigger parity +
    a row-count twin from the log's per-file row counts) — a backlog
    drains across MULTIPLE bounded micro-batches instead of one
    giant catch-up batch."""

    def _backlog(self, spark, tmp_path, n_commits=6):
        lake = TransactionalLake(
            spark, str(tmp_path / "rl"), partition_by=())
        for i in range(n_commits):
            lake.append(
                _rows(spark, i * 10, i * 10 + 10).coalesce(1))
        return lake

    def _batch_versions(self, ckpt_dir):
        """Commit-version range per planned micro-batch, from the
        checkpoint's offsets log."""
        import json as _json
        import os

        d = os.path.join(ckpt_dir, "offsets")
        ends = []
        for f in sorted(os.listdir(d)):
            if f.startswith("."):
                continue
            with open(os.path.join(d, f)) as fh:
                last = fh.read().strip().splitlines()[-1]
            off = _json.loads(last)
            if isinstance(off, str):  # double-encoded offset
                off = _json.loads(off)
            ends.append(off["version"])
        return ends

    def test_max_files_bounds_each_batch(self, spark, tmp_path):
        register_lake_changes_source(spark)
        lake = self._backlog(spark, tmp_path)
        ckpt = str(tmp_path / "ck")
        got = _drain_capped(
            spark, lake.path, str(tmp_path / "out"), ckpt, 60,
            max_files_per_trigger="2",
        )
        assert got.count() == 60  # nothing lost, nothing duplicated
        assert got.select("k").distinct().count() == 60
        ends = self._batch_versions(ckpt)
        # 6 one-file commits at <=2 files/trigger: >= 3 batches, and
        # no batch spans more than 2 commit versions
        assert len(ends) >= 3
        steps = [
            b - a for a, b in zip([0] + ends, ends + [ends[-1]])
        ][: len(ends)]
        assert all(s <= 2 for s in steps), (ends, steps)

    def test_max_rows_bounds_each_batch(self, spark, tmp_path):
        register_lake_changes_source(spark)
        lake = self._backlog(spark, tmp_path)
        ckpt = str(tmp_path / "ckr")
        got = _drain_capped(
            spark, lake.path, str(tmp_path / "outr"), ckpt, 60,
            max_rows_per_trigger="25",
        )
        assert got.count() == 60
        assert len(self._batch_versions(ckpt)) >= 3

    def test_oversized_commit_still_advances(self, spark, tmp_path):
        register_lake_changes_source(spark)
        lake = TransactionalLake(
            spark, str(tmp_path / "big"), partition_by=())
        lake.append(_rows(spark, 0, 40).repartition(4))  # 4 files
        lake.append(_rows(spark, 40, 50).coalesce(1))
        got = _drain_capped(
            spark, lake.path, str(tmp_path / "outb"),
            str(tmp_path / "ckb"), 50, max_files_per_trigger="1",
        )
        # a commit larger than the cap is the atomic unit: it streams
        # alone rather than stalling the query
        assert got.count() == 50

    def test_restart_resumes_under_cap(self, spark, tmp_path):
        register_lake_changes_source(spark)
        lake = self._backlog(spark, tmp_path, n_commits=4)
        ckpt = str(tmp_path / "ckR")
        out = str(tmp_path / "outR")
        got = _drain_capped(
            spark, lake.path, out, ckpt, 40,
            max_files_per_trigger="2")
        assert got.count() == 40
        # new backlog lands while the stream is down; restart drains
        # it through the same capped ladder (cursor self-heals: the
        # fresh reader's cursor starts at 0 but fast-forwards from
        # the engine's checkpointed position)
        for i in range(4, 8):
            lake.append(_rows(spark, i * 10, i * 10 + 10).coalesce(1))
        got2 = _drain_capped(
            spark, lake.path, out, ckpt, 80,
            max_files_per_trigger="2")
        assert got2.count() == 80
        assert got2.select("k").distinct().count() == 80

    def test_invalid_caps_rejected(self, spark, tmp_path):
        register_lake_changes_source(spark)
        lake = self._backlog(spark, tmp_path, n_commits=1)
        with pytest.raises(Exception, match="max_files_per_trigger"):
            _drain(
                spark, lake.path, str(tmp_path / "oi"),
                str(tmp_path / "cki"), max_files_per_trigger="0",
            )


class TestDrainAvailable:
    """r12 (VERDICT directive 4): one drain_available() call fully
    drains a capped backlog as a ladder of bounded availableNow
    batches — the Delta Trigger.AvailableNow + maxFilesPerTrigger
    behavior the single-pass caveat withheld."""

    def test_backlog_drains_in_one_call(self, spark, tmp_path):
        from market_data_lakehouse_spark.lakesource import drain_available

        register_lake_changes_source(spark)
        lake = TransactionalLake(spark, str(tmp_path / "dr"), partition_by=())
        for i in range(10):  # 10-commit backlog, 1 file each
            lake.append(_rows(spark, i * 10, i * 10 + 10).coalesce(1))
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")

        def start():
            return (
                spark.readStream.format("lake_changes")
                .option("path", lake.path)
                .option("max_files_per_trigger", "2")
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        n_batches = drain_available(start, ckpt)
        assert n_batches >= 5, n_batches  # 10 commits / cap 2

        # every planned batch respected the cap (offsets log = the
        # plan of record): commit-version deltas <= 2
        ends = self._offset_versions(ckpt)
        spans = [b - a for a, b in zip([0] + ends, ends)]
        assert all(s <= 2 for s in spans), spans

        # byte-equal to an uncapped read of the same log
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .drop("_commit_version")
            .collect()
        )
        want = sorted(tuple(r) for r in lake.snapshot().collect())
        assert got == want

        # idempotent: a second call sees a quiesced cursor, adds
        # nothing, and the sink is unchanged (exactly-once)
        assert drain_available(start, ckpt) == n_batches
        assert spark.read.parquet(out).count() == 100

    def test_drains_new_commits_after_quiescence(self, spark, tmp_path):
        from market_data_lakehouse_spark.lakesource import drain_available

        register_lake_changes_source(spark)
        lake = TransactionalLake(spark, str(tmp_path / "dr2"), partition_by=())
        lake.append(_rows(spark, 0, 10).coalesce(1))
        out, ckpt = str(tmp_path / "out2"), str(tmp_path / "ck2")

        def start():
            return (
                spark.readStream.format("lake_changes")
                .option("path", lake.path)
                .option("max_files_per_trigger", "1")
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        first = drain_available(start, ckpt)
        lake.append(_rows(spark, 10, 20).coalesce(1))
        lake.append(_rows(spark, 20, 30).coalesce(1))
        second = drain_available(start, ckpt)
        assert second == first + 2  # the ladder resumed, capped
        assert spark.read.parquet(out).count() == 30

    @staticmethod
    def _offset_versions(ckpt):
        import json as _json
        import os as _os

        d = _os.path.join(ckpt, "offsets")
        ends = []
        for f in sorted(
            (f for f in _os.listdir(d) if f.isdigit()), key=int
        ):
            with open(_os.path.join(d, f)) as fh:
                last = fh.read().strip().splitlines()[-1]
            off = _json.loads(last)
            if isinstance(off, str):
                off = _json.loads(off)
            ends.append(off["version"])
        return ends

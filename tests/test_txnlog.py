"""TransactionalLake: ACID append, time-travel, schema evolution,
CDC, compaction/Z-order, vacuum (SURVEY §2 S8/S11/T6/T7/T8/F5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from market_data_lakehouse_spark.txnlog import TransactionalLake


def _df(spark, rows, date="2024-06-15"):
    return spark.createDataFrame(
        [(s, float(p), date) for s, p in rows], "symbol string, price double, date string"
    )


@pytest.fixture()
def lake(spark, tmp_path):
    return TransactionalLake(spark, str(tmp_path / "tx"), partition_by=("date",))


class TestAcidAppend:
    def test_append_and_read(self, spark, lake):
        v0 = lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        assert v0 == 0
        assert lake.snapshot().count() == 2

    def test_multi_append_accumulates(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.append(_df(spark, [("MSFT", 300)], date="2024-06-16"))
        snap = lake.snapshot()
        assert snap.count() == 2
        # partition discovery infers date=... dirs as DateType
        assert {str(d) for d in snap.select("date").toPandas()["date"]} == {
            "2024-06-15",
            "2024-06-16",
        }

    def test_uncommitted_files_invisible(self, spark, lake):
        """A crash mid-write leaves orphan files that no snapshot
        sees — the core ACID property of the log."""
        lake.append(_df(spark, [("AAPL", 150)]))
        # simulate a torn write: parquet file present, no commit
        stray_dir = os.path.join(lake.path, "date=2024-06-15")
        stray = os.path.join(stray_dir, "part-stray.parquet")
        _df(spark, [("EVIL", 1)]).drop("date").write.mode("overwrite").parquet(
            stray + ".d"
        )
        pq = [
            f
            for f in os.listdir(stray + ".d")
            if f.endswith(".parquet")
        ][0]
        os.rename(os.path.join(stray + ".d", pq), stray)
        assert lake.snapshot().count() == 1  # stray not visible

    def test_overwrite_atomic_replace(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        lake.overwrite(_df(spark, [("GOOG", 2800)]))
        snap = lake.snapshot()
        assert snap.count() == 1
        assert snap.collect()[0]["symbol"] == "GOOG"


class TestTimeTravel:
    def test_version_as_of(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.append(_df(spark, [("MSFT", 300)]))
        lake.append(_df(spark, [("GOOG", 2800)]))
        assert lake.snapshot(version=0).count() == 1
        assert lake.snapshot(version=1).count() == 2
        assert lake.snapshot().count() == 3

    def test_overwrite_time_travel_keeps_old_snapshot(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.overwrite(_df(spark, [("GOOG", 2800)]))
        old = lake.snapshot(version=0)
        assert old.collect()[0]["symbol"] == "AAPL"

    def test_missing_version_raises(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        with pytest.raises(ValueError, match="does not exist"):
            lake.snapshot(version=7)


class TestSchemaEvolution:
    def test_new_column_requires_merge_schema(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        wide = _df(spark, [("MSFT", 300)]).withColumn("venue", F.lit("NYSE"))
        with pytest.raises(ValueError, match="merge_schema"):
            lake.append(wide)

    def test_merge_schema_evolves(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        wide = _df(spark, [("MSFT", 300)]).withColumn("venue", F.lit("NYSE"))
        lake.append(wide, merge_schema=True)
        snap = lake.snapshot()
        assert "venue" in snap.columns
        rows = {r["symbol"]: r["venue"] for r in snap.collect()}
        assert rows == {"AAPL": None, "MSFT": "NYSE"}


class TestMerge:
    def test_upsert_updates_and_inserts(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        lake.append(_df(spark, [("GOOG", 2800)], date="2024-06-16"))
        v = lake.merge(
            _df(spark, [("AAPL", 175), ("NVDA", 900)]), on="symbol"
        )
        assert v == 2
        got = {r.symbol: r.price for r in lake.snapshot().collect()}
        assert got == {"AAPL": 175.0, "MSFT": 300.0, "GOOG": 2800.0, "NVDA": 900.0}
        # time-travel still sees the pre-merge state
        pre = {r.symbol: r.price for r in lake.snapshot(version=1).collect()}
        assert pre["AAPL"] == 150.0 and "NVDA" not in pre

    def test_merge_rewrites_only_affected_files(self, spark, lake):
        """The 2024-06-16 file contains no matched key, so the merge
        commit must not remove it — copy-on-write touches only files
        holding matches."""
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.append(_df(spark, [("GOOG", 2800)], date="2024-06-16"))
        lake.merge(_df(spark, [("AAPL", 175)]), on="symbol")
        c = lake._read_commit(2)
        assert c["op"] == "merge"
        assert all("date=2024-06-15" in f for f in c["remove"]), c["remove"]

    def test_matched_delete_and_ignore_insert(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        lake.merge(
            _df(spark, [("AAPL", 0), ("NVDA", 900)]),
            on="symbol",
            when_matched="delete",
            when_not_matched="ignore",
        )
        got = {r.symbol for r in lake.snapshot().collect()}
        assert got == {"MSFT"}  # AAPL deleted, NVDA ignored

    def test_delete_rewrites_only_affected_files(self, spark, lake):
        """A delete matching rows in one date file must leave the
        other date's file untouched in the commit's remove list."""
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.append(_df(spark, [("GOOG", 2800)], date="2024-06-16"))
        v = lake.delete_where("symbol = 'AAPL'")
        c = lake._read_commit(v)
        assert all("date=2024-06-15" in f for f in c["remove"]), c["remove"]
        assert {r.symbol for r in lake.snapshot().collect()} == {"GOOG"}

    def test_delete_no_match_is_noop_commit(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        v = lake.delete_where("symbol = 'ZZZZ'")
        c = lake._read_commit(v)
        assert c["add"] == [] and c["remove"] == []
        assert lake.snapshot().count() == 1

    def test_update_where_assignments(self, spark, lake):
        """Copy-on-write UPDATE: matched rows get the expression
        value, unmatched rows in the same file are byte-identical
        survivors, files with no match aren't rewritten."""
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        lake.append(_df(spark, [("GOOG", 2800)], date="2024-06-16"))
        v = lake.update_where("symbol = 'AAPL'", {"price": "price * 2"})
        c = lake._read_commit(v)
        assert all("date=2024-06-15" in f for f in c["remove"])
        got = {r.symbol: r.price for r in lake.snapshot().collect()}
        assert got == {"AAPL": 300.0, "MSFT": 300.0, "GOOG": 2800.0}
        with pytest.raises(ValueError, match="unknown columns"):
            lake.update_where("TRUE", {"nope": "1"})

    def test_update_preserves_duplicate_keyed_target_rows(self, spark, lake):
        """Delta MERGE updates EVERY matched target row: a target
        holding two rows for the same key must come out with two rows
        both carrying the source values — not collapsed to one."""
        lake.append(
            spark.createDataFrame(
                [("AAPL", 150.0, "2024-06-15"), ("AAPL", 151.0, "2024-06-15"),
                 ("MSFT", 300.0, "2024-06-15")],
                "symbol string, price double, date string",
            )
        )
        lake.merge(_df(spark, [("AAPL", 175)]), on="symbol")
        rows = sorted(
            (r.symbol, r.price) for r in lake.snapshot().collect()
        )
        assert rows == [("AAPL", 175.0), ("AAPL", 175.0), ("MSFT", 300.0)]

    def test_merge_after_schema_evolution_null_fills(self, spark, lake):
        """A merge whose affected files predate a schema evolution
        must null-fill the missing column for survivors/updates, not
        crash on an unresolved column."""
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        lake.append(
            spark.createDataFrame(
                [("GOOG", 2800.0, "2024-06-16", "NASDAQ")],
                "symbol string, price double, date string, exchange string",
            ),
            merge_schema=True,
        )
        lake.merge(
            spark.createDataFrame(
                [("AAPL", 175.0, "2024-06-15", "NYSE")],
                "symbol string, price double, date string, exchange string",
            ),
            on="symbol",
        )
        got = {r.symbol: (r.price, r.exchange) for r in lake.snapshot().collect()}
        assert got == {
            "AAPL": (175.0, "NYSE"),
            "MSFT": (300.0, None),  # survivor from pre-evolution file
            "GOOG": (2800.0, "NASDAQ"),
        }

    def test_merge_into_empty_table_inserts(self, spark, lake):
        v = lake.merge(_df(spark, [("AAPL", 150)]), on="symbol")
        assert v == 0
        assert lake.snapshot().count() == 1

    def test_update_preserves_target_columns_absent_from_source(
        self, spark, lake
    ):
        """A narrow source updates only the columns it carries;
        target columns it lacks keep their values (Delta's
        update-by-name) — they must not be nulled out."""
        lake.append(
            spark.createDataFrame(
                [("GOOG", 2800.0, "2024-06-16", "NASDAQ")],
                "symbol string, price double, date string, exchange string",
            )
        )
        lake.merge(_df(spark, [("GOOG", 2900)]), on="symbol")
        row = lake.snapshot().collect()[0]
        assert (row.price, row.exchange) == (2900.0, "NASDAQ")

    def test_dml_predicate_on_evolved_column(self, spark, lake):
        """delete_where/update_where referencing a column only later
        files carry must see it null-filled on pre-evolution files,
        not raise UNRESOLVED_COLUMN."""
        lake.append(_df(spark, [("AAPL", 150)]).coalesce(1))
        lake.append(
            spark.createDataFrame(
                [("GOOG", 2800.0, "2024-06-16", "NASDAQ")],
                "symbol string, price double, date string, exchange string",
            ),
            merge_schema=True,
        )
        lake.update_where("exchange IS NULL", {"price": "price + 1"})
        got = {r.symbol: r.price for r in lake.snapshot().collect()}
        assert got == {"AAPL": 151.0, "GOOG": 2800.0}
        lake.delete_where("exchange IS NULL")
        assert {r.symbol for r in lake.snapshot().collect()} == {"GOOG"}

    def test_dml_on_emptied_table_is_noop_and_schema_survives(
        self, spark, lake
    ):
        """DML on a table whose live-file set is empty must be a
        no-op commit, and a merge re-seeding it must conform to the
        committed (possibly evolved) schema rather than narrowing it."""
        lake.append(
            spark.createDataFrame(
                [("GOOG", 2800.0, "2024-06-16", "NASDAQ")],
                "symbol string, price double, date string, exchange string",
            )
        )
        lake.delete_where("TRUE")
        assert lake.snapshot().count() == 0
        lake.delete_where("price > 0")  # empty live set: no-op
        lake.update_where("TRUE", {"price": "0"})  # no-op
        v = lake.merge(_df(spark, [("AAPL", 150)]), on="symbol")
        snap = lake.snapshot()
        assert "exchange" in snap.columns  # schema NOT narrowed
        row = snap.collect()[0]
        assert (row.symbol, row.price, row.exchange) == ("AAPL", 150.0, None)
        assert v == lake.version

    def test_duplicate_source_keys_raise(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        with pytest.raises(ValueError, match="duplicate keys"):
            lake.merge(
                _df(spark, [("AAPL", 1), ("AAPL", 2)]), on="symbol"
            )

    def test_merge_cdc_nets_to_upsert(self, spark, lake):
        """Applying the merge commit's CDC deletes-then-inserts must
        reproduce the post-merge state (survivor rewrite pairs are
        no-ops under that order)."""
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        v = lake.merge(_df(spark, [("AAPL", 175)]), on="symbol")
        feed = lake.read_changes(starting_version=v).collect()
        deletes = {(r.symbol, r.price) for r in feed if r._change_type == "delete"}
        inserts = {(r.symbol, r.price) for r in feed if r._change_type == "insert"}
        base = {("AAPL", 150.0), ("MSFT", 300.0)}
        assert (base - deletes) | inserts == {("AAPL", 175.0), ("MSFT", 300.0)}

    def test_merge_broadcast_is_size_gated(self, spark, lake):
        """A source whose Catalyst size estimate exceeds
        autoBroadcastJoinThreshold must NOT get a forced broadcast
        hint (a bulk-backfill merge would OOM on it); a tiny CDC
        batch must keep the hint."""
        from pyspark.sql import functions as F

        small = _df(spark, [("AAPL", 1)])
        sizes = lake._measured_bytes(small)
        assert sizes["_n"] == 1 and sizes["price"] == 8
        est = sum(sizes[c] for c in small.columns)
        hinted = lake._maybe_broadcast(small, est_bytes=est)
        assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
        # no size signal at all -> fail safe, no hint
        nosignal = lake._maybe_broadcast(small)
        assert "ResolvedHint" not in (
            nosignal._jdf.queryExecution().analyzed().toString()
        )
        # wide payload: actual string bytes in ONE row beat the
        # session threshold — a schema-width guess would have called
        # this 20 bytes and force-broadcast it
        thresh = lake._broadcast_threshold()
        wide = spark.range(1).select(
            F.lit("k").alias("symbol"),
            F.repeat(F.lit("x"), thresh + 1024).alias("payload"),
        )
        wsize = lake._measured_bytes(wide)
        assert wsize["payload"] > thresh
        unh = lake._maybe_broadcast(
            wide, est_bytes=sum(wsize[c] for c in wide.columns)
        )
        assert "ResolvedHint" not in (
            unh._jdf.queryExecution().analyzed().toString()
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
            unhinted = lake._maybe_broadcast(small, est_bytes=est)
            assert "ResolvedHint" not in (
                unhinted._jdf.queryExecution().analyzed().toString()
            )
            # merge itself stays correct without the hint (AQE path)
            lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
            lake.merge(_df(spark, [("AAPL", 175), ("GOOG", 99)]), on="symbol")
            got = {
                (r.symbol, r.price) for r in lake.snapshot().collect()
            }
            assert got == {("AAPL", 175.0), ("MSFT", 300.0), ("GOOG", 99.0)}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_merge_source_dtypes_cast_to_committed(self, spark, lake):
        """storeAssignmentPolicy: an int-typed source column merging
        into a double-committed column is up-cast, and the committed
        schema is NOT silently evolved by the merge."""
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        src = spark.createDataFrame(
            [("AAPL", 175, "2024-06-15")],
            "symbol string, price int, date string",
        )
        lake.merge(src, on="symbol")
        snap = lake.snapshot()
        assert dict(snap.dtypes)["price"] == "double"
        got = {(r.symbol, r.price) for r in snap.collect()}
        assert got == {("AAPL", 175.0), ("MSFT", 300.0)}
        # and the log's committed schema still says double
        import json as _json

        last_schema = _json.loads(lake._read_commit(lake.version)["schema"])
        price = [f for f in last_schema["fields"] if f["name"] == "price"][0]
        assert price["type"] == "double"

    def test_merge_incompatible_source_dtype_raises(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        src = spark.createDataFrame(
            [("AAPL", "not-a-price", "2024-06-15")],
            "symbol string, price string, date string",
        )
        with pytest.raises(ValueError, match="committed double"):
            lake.merge(src, on="symbol")

    def test_dml_on_partition_value_with_space(self, spark, lake):
        """_metadata.file_path is a URI — partition values with
        URI-encodable chars must still match the log's recorded
        relative paths, or DML duplicates rows."""
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)], date="a b"))
        lake.delete_where("symbol = 'AAPL'")
        got = [(r.symbol, r.price) for r in lake.snapshot().collect()]
        assert got == [("MSFT", 300.0)]
        lake.merge(
            _df(spark, [("MSFT", 310)], date="a b"), on="symbol"
        )
        got = {(r.symbol, r.price) for r in lake.snapshot().collect()}
        assert got == {("MSFT", 310.0)}


class TestCdc:
    def test_appends_feed_inserts(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.append(_df(spark, [("MSFT", 300)]))
        ch = lake.read_changes(starting_version=1)
        rows = ch.collect()
        assert len(rows) == 1
        assert rows[0]["_change_type"] == "insert"
        assert rows[0]["_commit_version"] == 1

    def test_delete_emits_changes(self, spark, lake):
        """Survivors sharing a file with deleted rows round-trip
        through the feed as delete+insert; coalesce(1) forces the
        co-location (affected-only delete leaves other files out of
        the feed entirely)."""
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]).coalesce(1))
        lake.delete_where("symbol = 'AAPL'")
        assert lake.snapshot().count() == 1
        ch = lake.read_changes(starting_version=1).toPandas()
        assert set(ch["_change_type"]) == {"insert", "delete"}
        ins = ch[ch["_change_type"] == "insert"]
        assert list(ins["symbol"]) == ["MSFT"]  # survivor rewrite only


class TestMaintenance:
    def test_compaction_preserves_data_and_history(self, spark, lake):
        for i in range(4):
            lake.append(_df(spark, [("AAPL", 150 + i)]))
        before = lake.snapshot().toPandas().sort_values("price")
        v = lake.optimize(zorder_by=("symbol", "price"))
        after = lake.snapshot().toPandas().sort_values("price")
        assert list(before["price"]) == list(after["price"])
        # old version still readable (files not vacuumed yet)
        assert lake.snapshot(version=v - 1).count() == 4
        # fewer live files after compaction
        live, _s, _v, _dv = lake._snapshot_state()
        assert len(live) == 1

    def test_vacuum_removes_dead_files(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.append(_df(spark, [("MSFT", 300)]))
        lake.optimize()
        # default retention protects freshly-written files (a
        # concurrent writer's staged-but-uncommitted data)
        assert lake.vacuum() == 0
        # a short retention needs the explicit override (r11
        # retentionDurationCheck parity)
        with pytest.raises(ValueError, match="retention"):
            lake.vacuum(retention_seconds=0)
        lake.set_properties({"retentionDurationCheck.enabled": "false"})
        removed = lake.vacuum(retention_seconds=0)
        assert removed >= 2
        assert lake.snapshot().count() == 2  # latest still intact

    def test_history(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.append(_df(spark, [("MSFT", 300)]))
        lake.optimize()
        ops = [h["op"] for h in lake.history()]
        assert ops == ["compact", "append", "append"]


class TestRestore:
    def test_restore_rolls_back_and_is_a_commit(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        v1 = lake.append(_df(spark, [("MSFT", 300)]))
        lake.delete_where("symbol = 'AAPL'")
        assert lake.snapshot().count() == 1
        v_restore = lake.restore(version=v1)
        assert v_restore == lake.version
        snap = lake.snapshot().toPandas().sort_values("symbol")
        assert list(snap["symbol"]) == ["AAPL", "MSFT"]
        assert lake.history()[0]["op"] == "restore"
        assert lake.history()[0]["restore_version"] == v1

    def test_restore_is_metadata_only(self, spark, lake):
        """No parquet file is written or rewritten by restore: the
        data-file set on disk before and after is identical."""
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.overwrite(_df(spark, [("TSLA", 900)]))

        def disk_files():
            out = set()
            for dp, _d, fs in os.walk(lake.path):
                out |= {
                    os.path.join(dp, f) for f in fs if f.endswith(".parquet")
                }
            return out

        before = disk_files()
        lake.restore(version=0)
        assert disk_files() == before
        assert lake.snapshot().toPandas()["symbol"].tolist() == ["AAPL"]

    def test_restore_then_restore_forward(self, spark, lake):
        """A restore is undoable by restoring to the pre-restore
        version — the log never loses state."""
        lake.append(_df(spark, [("AAPL", 150)]))
        v1 = lake.append(_df(spark, [("MSFT", 300)]))
        lake.restore(version=0)
        assert lake.snapshot().count() == 1
        lake.restore(version=v1)
        assert lake.snapshot().count() == 2

    def test_restore_noop_at_current_version(self, spark, lake):
        v0 = lake.append(_df(spark, [("AAPL", 150)]))
        assert lake.restore(version=v0) == v0
        assert lake.history()[0]["op"] == "append"

    def test_restore_fails_after_vacuum(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.overwrite(_df(spark, [("TSLA", 900)]))
        lake.set_properties({"retentionDurationCheck.enabled": "false"})
        lake.vacuum(retention_seconds=0)
        with pytest.raises(FileNotFoundError, match="vacuumed"):
            lake.restore(version=0)

    def test_restore_emits_cdc(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.append(_df(spark, [("MSFT", 300)]))
        v = lake.restore(version=0)
        cdc = (
            lake.read_changes(starting_version=v)
            .select("symbol", "_change_type")
            .toPandas()
        )
        assert set(map(tuple, cdc.values)) == {("MSFT", "delete")}


class TestCheckConstraints:
    def test_add_validate_enforce_drop(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.add_check_constraint("price_pos", "price > 0")
        assert lake.check_constraints() == {"price_pos": "price > 0"}
        # violating append rejected before any file commits
        v_before = lake.version
        with pytest.raises(ValueError, match="price_pos"):
            lake.append(_df(spark, [("BAD", -5)]))
        assert lake.version == v_before
        assert lake.snapshot().count() == 1
        # satisfying append passes
        lake.append(_df(spark, [("MSFT", 300)]))
        # drop lifts enforcement
        lake.drop_check_constraint("price_pos")
        lake.append(_df(spark, [("NEG", -1)]))
        assert lake.snapshot().count() == 3

    def test_add_rejects_when_existing_rows_violate(self, spark, lake):
        lake.append(_df(spark, [("AAPL", -150)]))
        with pytest.raises(ValueError, match="existing"):
            lake.add_check_constraint("price_pos", "price > 0")
        assert lake.check_constraints() == {}

    def test_null_passes_three_valued_semantics(self, spark, lake):
        """SQL CHECK: only provably-FALSE rows violate; NULL passes."""
        lake.add_check_constraint("price_pos", "price > 0")
        df = spark.createDataFrame(
            [("AAPL", None, "2024-06-15")],
            "symbol string, price double, date string",
        )
        lake.append(df)
        assert lake.snapshot().count() == 1

    def test_update_and_merge_enforced(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        lake.add_check_constraint("price_pos", "price > 0")
        with pytest.raises(ValueError, match="update"):
            lake.update_where("symbol = 'AAPL'", {"price": "-price"})
        src = _df(spark, [("AAPL", -1)])
        with pytest.raises(ValueError, match="merge"):
            lake.merge(src, on=("symbol",))
        # table unchanged by both rejected writes
        assert lake.snapshot().filter("price <= 0").count() == 0
        # valid merge still works under the constraint
        lake.merge(_df(spark, [("AAPL", 200)]), on=("symbol",))
        assert (
            lake.snapshot().filter("symbol = 'AAPL'").first().price == 200.0
        )

    def test_duplicate_and_missing_names(self, spark, lake):
        lake.add_check_constraint("c1", "volume IS NULL OR volume >= 0")
        with pytest.raises(ValueError, match="already exists"):
            lake.add_check_constraint("c1", "1 = 1")
        with pytest.raises(ValueError, match="no such"):
            lake.drop_check_constraint("nope")

    def _data_files(self, lake):
        return [
            os.path.join(dp, f)
            for dp, _dirs, fs in os.walk(lake.path)
            for f in fs
            if f.endswith(".parquet") and "_txn_log" not in dp
        ]

    def test_violating_append_leaves_no_orphan_files(self, spark, lake):
        """The r6 observe-fold detects violations AFTER staging; the
        staged files must be unlinked, not left for vacuum."""
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.add_check_constraint("price_pos", "price > 0")
        before = set(self._data_files(lake))
        with pytest.raises(ValueError, match="price_pos"):
            lake.append(_df(spark, [("BAD", -5), ("OK", 5)]))
        assert set(self._data_files(lake)) == before
        assert lake.snapshot().count() == 1

    def test_mixed_batch_reports_violation_count(self, spark, lake):
        lake.add_check_constraint("price_pos", "price > 0")
        with pytest.raises(ValueError, match="2 row"):
            lake.append(_df(spark, [("A", -1), ("B", 2), ("C", -3)]))


class TestSkipEmptyAppend:
    def test_empty_batch_skips_commit(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        v = lake.version
        empty = _df(spark, []).filter("1 = 0")
        assert lake.append(empty, skip_empty=True) == v
        assert lake.version == v

    def test_default_empty_append_still_commits(self, spark, lake):
        """Pin batch-API semantics: without skip_empty an empty
        append is a (no-file) version bump, as before r6."""
        lake.append(_df(spark, [("AAPL", 150)]))
        v = lake.version
        assert lake.append(_df(spark, []).filter("1 = 0")) == v + 1

    def test_skip_empty_with_constraints_still_enforces(self, spark, lake):
        lake.add_check_constraint("price_pos", "price > 0")
        with pytest.raises(ValueError, match="price_pos"):
            lake.append(_df(spark, [("BAD", -5)]), skip_empty=True)
        assert lake.version == 0  # only the add_constraint commit
        lake.append(_df(spark, [("OK", 5)]), skip_empty=True)
        assert lake.snapshot().count() == 1

    def test_skipped_empty_batch_with_txn_records_marker(self, spark, lake):
        """Delta SetTransaction parity (r8): an idle trigger that
        carries a txn id commits a DATA-LESS marker, so
        last_txn_version advances and a replayed idle batch is
        recognized — without txn the skip stays version-free."""
        lake.append(_df(spark, [("AAPL", 150)]), txn=("app", 0))
        v = lake.version
        empty = _df(spark, []).filter("1 = 0")
        v2 = lake.append(empty, skip_empty=True, txn=("app", 1))
        assert v2 == v + 1
        assert lake.last_txn_version("app") == 1
        c = lake._read_commit(v2)
        assert c["op"] == "txn_marker" and c["add"] == []
        # replayed idle batch: marker makes it a no-op
        assert lake.append(empty, skip_empty=True, txn=("app", 1)) == v2
        assert lake.version == v2
        # data unchanged; snapshot and CDC unaffected by the marker
        assert lake.snapshot().count() == 1
        assert lake.read_changes(v2).count() == 0

    def test_txn_marker_folds_through_checkpoint(self, spark, tmp_path):
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        lake = TransactionalLake(
            spark, str(tmp_path / "mk"), partition_by=(),
            checkpoint_every=2,
        )
        lake.append(_df(spark, [("AAPL", 150)]), txn=("app", 3))
        empty = _df(spark, []).filter("1 = 0")
        lake.append(empty, skip_empty=True, txn=("app", 7))  # -> ckpt
        lake.vacuum_log()
        fresh = TransactionalLake(
            spark, str(tmp_path / "mk"), partition_by=()
        )
        assert fresh.last_txn_version("app") == 7

    def test_warm_handle_reseeds_after_log_vacuum(self, spark, tmp_path):
        """A handle whose txn memo stops below a vacuumed span must
        reseed from the checkpoint, not stall at the deleted commit:
        a stalled memo hides every later txn, so a replayed batch
        commits twice."""
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        lake = TransactionalLake(spark, str(tmp_path / "wv"), partition_by=())
        lake.append(_df(spark, [("AAPL", 150)]), txn=("app", 1))
        assert lake.last_txn_version("app") == 1  # memo now at v0
        lake.append(_df(spark, [("MSFT", 300)]), txn=("app", 2))
        lake.checkpoint()
        lake.vacuum_log()  # deletes v0 and v1, the memo's next commit
        head = lake.version
        # txn 2 now lives only in the checkpoint's txn map
        assert lake.append(_df(spark, [("MSFT", 300)]), txn=("app", 2)) == head
        v = lake.append(_df(spark, [("IBM", 100)]), txn=("app", 3))
        assert lake.append(_df(spark, [("IBM", 100)]), txn=("app", 3)) == v
        assert lake.version == v
        assert lake.last_txn_version("app") == 3
        assert lake.snapshot().count() == 3


class TestConstraintRestoreInteraction:
    def test_constraints_survive_restore(self, spark, lake):
        """Constraints are log-scoped metadata, not snapshot-scoped:
        RESTORE rolls back the FILE set, not the constraint set — a
        rollback must not silently disable data-quality gates."""
        v0 = lake.append(_df(spark, [("AAPL", 150)]))
        lake.append(_df(spark, [("MSFT", 300)]))
        lake.add_check_constraint("price_pos", "price > 0")
        lake.restore(version=v0)
        assert lake.snapshot().count() == 1
        assert lake.check_constraints() == {"price_pos": "price > 0"}
        with pytest.raises(ValueError, match="price_pos"):
            lake.append(_df(spark, [("BAD", -1)]))


class TestGeneratedColumns:
    def _glake(self, spark, tmp_path):
        return TransactionalLake(
            spark,
            str(tmp_path / "g"),
            partition_by=("date",),
            generated_columns={"date": "to_date(ts)"},
        )

    def test_partition_key_derived_on_append(self, spark, tmp_path):
        lake = self._glake(spark, tmp_path)
        df = spark.createDataFrame(
            [("AAPL", "2024-06-15 10:30:00", 150.0)],
            "symbol string, ts string, price double",
        ).withColumn("ts", F.to_timestamp("ts"))
        lake.append(df)  # no date column — derived
        row = lake.snapshot().first()
        assert str(row.date) == "2024-06-15"
        # partition directory actually keyed by the generated value
        assert os.path.isdir(os.path.join(lake.path, "date=2024-06-15"))

    def test_explicit_value_wins(self, spark, tmp_path):
        lake = self._glake(spark, tmp_path)
        df = spark.createDataFrame(
            [("AAPL", "2024-06-15 10:30:00", 150.0, "1999-01-01")],
            "symbol string, ts string, price double, date string",
        ).withColumn("ts", F.to_timestamp("ts")).withColumn(
            "date", F.to_date("date")
        )
        lake.append(df)
        assert str(lake.snapshot().first().date) == "1999-01-01"

    def test_merge_source_derives_partition_key(self, spark, tmp_path):
        lake = self._glake(spark, tmp_path)
        base = spark.createDataFrame(
            [("AAPL", "2024-06-15 10:30:00", 150.0)],
            "symbol string, ts string, price double",
        ).withColumn("ts", F.to_timestamp("ts"))
        lake.append(base)
        src = spark.createDataFrame(
            [("AAPL", "2024-06-15 10:30:00", 200.0),
             ("MSFT", "2024-06-16 09:00:00", 300.0)],
            "symbol string, ts string, price double",
        ).withColumn("ts", F.to_timestamp("ts"))
        lake.merge(src, on=("symbol", "ts"))
        out = {r.symbol: (r.price, str(r.date)) for r in lake.snapshot().collect()}
        assert out == {
            "AAPL": (200.0, "2024-06-15"),
            "MSFT": (300.0, "2024-06-16"),
        }


class TestPartitioningContract:
    def test_reopener_adopts_recorded_layout(self, spark, tmp_path):
        path = str(tmp_path / "p")
        lake = TransactionalLake(spark, path, partition_by=("date",))
        lake.append(_df(spark, [("AAPL", 150)]))
        # reopen with a WRONG ctor value: the log wins
        again = TransactionalLake(spark, path, partition_by=())
        assert again.partition_by == ("date",)
        again.append(_df(spark, [("MSFT", 300)], date="2024-06-16"))
        assert os.path.isdir(os.path.join(path, "date=2024-06-16"))

    def test_set_partitioning_rewrites_and_sticks(self, spark, tmp_path):
        path = str(tmp_path / "p")
        lake = TransactionalLake(spark, path, partition_by=("date",))
        v0 = lake.append(
            _df(spark, [("AAPL", 150), ("MSFT", 300)])
        )
        lake.set_partitioning(("symbol",))
        # data intact, new layout on disk, old version still readable
        assert lake.snapshot().count() == 2
        assert os.path.isdir(os.path.join(path, "symbol=AAPL"))
        assert lake.snapshot(version=v0).count() == 2
        # future writers adopt the evolved layout from the log
        fresh = TransactionalLake(spark, path, partition_by=None)
        assert fresh.partition_by == ("symbol",)
        fresh.append(_df(spark, [("TSLA", 900)]))
        assert os.path.isdir(os.path.join(path, "symbol=TSLA"))
        # CDC: the relayout itself emitted no row changes
        ops = [h["op"] for h in lake.history()]
        assert "set_partitioning" in ops
        cdc = lake.read_changes(starting_version=v0 + 1)
        assert {r.symbol for r in cdc.collect()} == {"TSLA"}

    def test_set_partitioning_off_date_keeps_log_types(self, spark, tmp_path):
        """Moving ``date`` out of the path writes it back into the
        files as the log's type (string), not the DATE that partition
        discovery gave it — otherwise the files no longer match the
        log and every read of ``date`` after the relayout fails."""
        path = str(tmp_path / "p")
        lake = TransactionalLake(spark, path, partition_by=("date",))
        v0 = lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        assert dict(lake.snapshot(version=v0).dtypes)["date"] == "date"
        lake.set_partitioning(("symbol",))
        snap = lake.snapshot()
        assert dict(snap.dtypes)["date"] == "string"
        assert sorted(tuple(r) for r in snap.select(
            "symbol", "price", "date"
        ).collect()) == [
            ("AAPL", 150.0, "2024-06-15"),
            ("MSFT", 300.0, "2024-06-15"),
        ]
        # pre-relayout time travel still reads the path-inferred type
        assert dict(lake.snapshot(version=v0).dtypes)["date"] == "date"
        # later writers and DML keep working on the relaid table
        lake.append(_df(spark, [("TSLA", 900)], date="2024-06-16"))
        lake.delete_where("date = '2024-06-15' AND symbol = 'MSFT'")
        assert sorted(
            (r.symbol, r.date) for r in lake.snapshot().collect()
        ) == [("AAPL", "2024-06-15"), ("TSLA", "2024-06-16")]

    def test_set_partitioning_unknown_column(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        with pytest.raises(ValueError, match="unknown partition"):
            lake.set_partitioning(("nope",))


class TestAdvisedFixes:
    """Regression tests for the round-4 advisor findings."""

    def test_merge_into_empty_table_enforces_constraints(self, spark, lake):
        """The empty-table insert fast path must not bypass CHECK
        constraints (the non-empty merge path enforces them)."""
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.add_check_constraint("pos_price", "price > 0")
        lake.delete_where("true")  # table now empty of rows
        bad = _df(spark, [("MSFT", -1)])
        with pytest.raises(ValueError, match="CHECK constraint"):
            lake.merge(bad, on=("symbol",))
        good = _df(spark, [("MSFT", 300)])
        lake.merge(good, on=("symbol",))
        assert lake.snapshot().count() == 1

    def test_restore_across_set_partitioning_rolls_back_layout(
        self, spark, tmp_path
    ):
        """RESTORE across a partition-evolution boundary must re-adopt
        the old layout, or the next append mixes date=/symbol= files
        in one live set and snapshot() fails."""
        path = str(tmp_path / "p")
        lake = TransactionalLake(spark, path, partition_by=("date",))
        v0 = lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        lake.set_partitioning(("symbol",))
        lake.restore(version=v0)
        assert lake.partition_by == ("date",)
        lake.append(_df(spark, [("TSLA", 900)], date="2024-06-16"))
        snap = lake.snapshot()  # must not raise on mixed layouts
        assert snap.count() == 3
        assert os.path.isdir(os.path.join(path, "date=2024-06-16"))
        # a fresh writer reads the restored layout from the log too
        fresh = TransactionalLake(spark, path, partition_by=None)
        assert fresh.partition_by == ("date",)

    def test_set_partitioning_rolls_back_layout_on_commit_race(
        self, spark, tmp_path, monkeypatch
    ):
        """If the relayout COMMIT loses a version race, the in-memory
        layout must revert — otherwise later appends from this
        instance silently write the new layout against the old log."""
        path = str(tmp_path / "p")
        lake = TransactionalLake(spark, path, partition_by=("date",))
        lake.append(_df(spark, [("AAPL", 150)]))

        real_commit = lake._commit

        def racing_commit(action, read_version=None, **kw):
            if action.get("op") == "set_partitioning":
                raise RuntimeError("concurrent commit at version 1")
            return real_commit(action, read_version=read_version, **kw)

        monkeypatch.setattr(lake, "_commit", racing_commit)
        with pytest.raises(RuntimeError, match="concurrent commit"):
            lake.set_partitioning(("symbol",))
        assert lake.partition_by == ("date",)
        monkeypatch.setattr(lake, "_commit", real_commit)
        lake.append(_df(spark, [("MSFT", 300)], date="2024-06-16"))
        assert os.path.isdir(os.path.join(path, "date=2024-06-16"))
        assert lake.snapshot().count() == 2


class TestCompactDelegation:
    def test_datalakehouse_compact_delegates_to_txn_log(
        self, spark, tmp_path
    ):
        """DataLakehouse.compact must compact via a LOG COMMIT
        (TransactionalLake.optimize), never a directory swap — a reader
        holding a pre-compact snapshot keeps reading its exact file set
        mid-maintenance. Checked on a root a TransactionalLake created
        and on one DataLakehouse created itself; on the latter, rows
        acknowledged by every ingest path (auto-flush, flush,
        ingest_batch) read back equal through a fresh DataLakehouse and
        a fresh TransactionalLake."""
        from market_data_lakehouse_spark.lakehouse import DataLakehouse
        from market_data_lakehouse_spark.schema import BAR_SCHEMA

        from tests.conftest import make_bar

        def assert_compacted_by_commit(path):
            fresh = TransactionalLake(spark, path, partition_by=None)
            assert fresh.history()[0]["op"] == "compact"  # latest first
            assert not [
                d
                for d in os.listdir(str(tmp_path))
                if "__pre_compact" in d or "__compact_" in d
            ]
            return fresh

        # a root a TransactionalLake created
        path = str(tmp_path / "shared")
        lake = TransactionalLake(spark, path, partition_by=("date",))
        for i in range(4):
            lake.append(_df(spark, [("AAPL", 150 + i)]))
        v_before = lake.version
        reader = lake.snapshot(version=v_before)  # concurrent reader

        DataLakehouse(spark, path).compact(target_files_per_partition=1)

        fresh = assert_compacted_by_commit(path)
        # the pre-compact reader still resolves its full snapshot
        # (old files retained until vacuum) and sees identical data
        assert sorted(r.price for r in reader.collect()) == [
            150.0, 151.0, 152.0, 153.0,
        ]
        assert fresh.snapshot().count() == 4
        live, _s, _v, _dv = fresh._snapshot_state()
        assert len(live) == 1  # actually compacted

        # a root DataLakehouse created itself
        path = str(tmp_path / "own")
        dlh = DataLakehouse(spark, path, batch_size=2)
        bars = [make_bar(i) for i in range(30)]  # two calendar dates
        assert dlh.ingest(bars[0]) and dlh.ingest(bars[1])  # auto-flush
        assert dlh.ingest(bars[2])
        dlh.flush()
        dlh.ingest_batch(bars[3:])
        cols = BAR_SCHEMA.fieldNames()
        acked = sorted(tuple(b[c] for c in cols) for b in bars)
        pre = dlh.query()  # built before compact, collected after

        dlh.compact()

        fresh = assert_compacted_by_commit(path)
        assert len(fresh._snapshot_state()[0]) == 2  # one per date
        assert sorted(tuple(r) for r in pre.bars) == acked
        reopened = DataLakehouse(spark, path).table()
        got = reopened.select(*cols).collect()
        assert sorted(tuple(r) for r in got) == acked
        assert sorted(fresh.snapshot().collect()) == sorted(
            reopened.collect()
        )

class TestLogCheckpoints:
    def _lake(self, spark, tmp_path, every=5):
        return TransactionalLake(
            spark, str(tmp_path / "cp"), partition_by=(),
            checkpoint_every=every,
        )

    def test_checkpoint_written_at_interval(self, spark, tmp_path):
        lk = self._lake(spark, tmp_path, every=5)
        for i in range(12):
            lk.append(_df(spark, [(f"S{i}", float(i))]))
        cps = sorted(
            f for f in os.listdir(lk.log_path) if f.endswith(".checkpoint")
        )
        assert cps == ["00000004.checkpoint", "00000009.checkpoint"]

    def test_head_read_uses_checkpoint_not_full_log(self, spark, tmp_path):
        """A fresh handle resolving the head must parse only the
        commits AFTER the newest checkpoint — O(tail), not O(log)."""
        lk = self._lake(spark, tmp_path, every=5)
        for i in range(12):
            lk.append(_df(spark, [(f"S{i}", float(i))]))
        fresh = TransactionalLake(
            spark, lk.path, partition_by=None, checkpoint_every=5
        )
        seen: list[int] = []
        orig = TransactionalLake._read_commit

        def spy(self, v):
            seen.append(v)
            return orig(self, v)

        TransactionalLake._read_commit = spy  # type: ignore[method-assign]
        try:
            files, _schemas, v, _dv = fresh._snapshot_state()
        finally:
            TransactionalLake._read_commit = orig  # type: ignore[method-assign]
        assert v == 11
        assert sorted(files) == sorted(lk._snapshot_state(version=11)[0])
        assert all(x >= 10 for x in seen), f"pre-checkpoint reads: {seen}"

    def test_checkpointed_state_equals_full_fold(self, spark, tmp_path):
        """Checkpoint + tail must resolve byte-identically to the
        full-log fold (which the explicit-version path still uses),
        across appends, deletes, and an overwrite."""
        lk = self._lake(spark, tmp_path, every=3)
        for i in range(7):
            lk.append(_df(spark, [(f"S{i}", float(i)), (f"T{i}", 1.0)]))
        lk.delete_where("symbol = 'S2'")
        lk.overwrite(_df(spark, [("W", 9.0)]))
        for i in range(4):
            lk.append(_df(spark, [(f"Z{i}", float(i))]))
        head = lk.version
        fast = lk._snapshot_state()
        slow = lk._snapshot_state(version=head)  # full-log path
        assert sorted(fast[0]) == sorted(slow[0])
        assert fast[1] == slow[1] and fast[2] == slow[2]
        assert lk.snapshot().count() == 1 + 4

    def test_change_feed_reads_only_its_span(
        self, spark, tmp_path, monkeypatch
    ):
        """read_changes seeds its running state from the newest
        checkpoint before ``starting_version`` and parses only the
        commits after it: O(span), not O(retained log)."""
        from market_data_lakehouse_spark import logcore

        lk = self._lake(spark, tmp_path, every=5)  # checkpoints at 4, 9
        for i in range(12):
            lk.append(_df(spark, [(f"S{i}", float(i))]))
        seen: list[int] = []
        orig = logcore.read_commit

        def spy(log_path, v):
            seen.append(v)
            return orig(log_path, v)

        monkeypatch.setattr(logcore, "read_commit", spy)
        tail = lk.read_changes(11)
        assert min(seen) > 9, f"commits read below the checkpoint: {seen}"
        seen.clear()
        window = lk.read_changes(7, ending_version=8)
        assert min(seen) > 4, f"commits read below the checkpoint: {seen}"
        assert [r.symbol for r in tail.collect()] == ["S11"]
        assert sorted(
            (r.symbol, r._commit_version) for r in window.collect()
        ) == [("S7", 7), ("S8", 8)]

    def test_change_feed_row_ids_read_only_its_span(
        self, spark, tmp_path, monkeypatch
    ):
        """With row ids, the base ids of files live before the span
        come from the same running state and those of the span's own
        files from its ``row_base`` entries: no commit at or below the
        checkpoint is read, and a removed file still resolves."""
        from market_data_lakehouse_spark import logcore

        lk = self._lake(spark, tmp_path, every=5)  # checkpoints at 4, 9
        lk.append(_df(spark, [("S0", 0.0)]))
        lk.enable_row_tracking()
        for i in range(1, 10):
            lk.append(_df(spark, [(f"S{i}", float(i))]))
        ids = {
            r.symbol: r._row_id
            for r in lk.snapshot(with_row_ids=True).collect()
        }
        start = lk.delete_where("symbol = 'S3'")
        assert start == 11
        lk.update_where("symbol = 'S0'", {"price": "price + 1"})
        seen: list[int] = []
        orig = logcore.read_commit

        def spy(log_path, v):
            seen.append(v)
            return orig(log_path, v)

        monkeypatch.setattr(logcore, "read_commit", spy)
        feed = lk.read_changes(start, with_row_ids=True)
        assert min(seen) > 9, f"commits read below the checkpoint: {seen}"
        assert sorted(
            (r.symbol, r._change_type, r._row_id) for r in feed.collect()
        ) == sorted([
            ("S3", "delete", ids["S3"]),
            ("S0", "delete", ids["S0"]),
            ("S0", "insert", ids["S0"]),
        ])

    def test_time_travel_before_checkpoint_still_works(self, spark, tmp_path):
        lk = self._lake(spark, tmp_path, every=3)
        for i in range(8):
            lk.append(_df(spark, [(f"S{i}", float(i))]))
        assert lk.snapshot(version=1).count() == 2
        assert lk.snapshot(version=6).count() == 7

    def test_stats_skipping_and_txn_seed_from_checkpoint(
        self, spark, tmp_path
    ):
        lk = self._lake(spark, tmp_path, every=4)
        for i in range(9):
            lk.append(
                spark.createDataFrame(
                    [(i * 100 + j, float(i)) for j in range(10)],
                    "k long, price double",
                ).coalesce(1),
                txn=("app", i),
            )
        fresh = TransactionalLake(
            spark, lk.path, partition_by=None, checkpoint_every=4
        )
        assert fresh.last_txn_version("app") == 8  # seeded + tail
        kept, total, _ = fresh.prune_files({"k": (305, 402)})
        assert total == 9 and len(kept) == 2

    def test_restore_across_checkpoint(self, spark, tmp_path):
        lk = self._lake(spark, tmp_path, every=3)
        for i in range(7):
            lk.append(_df(spark, [(f"S{i}", float(i))]))
        lk.restore(2)
        assert lk.snapshot().count() == 3
        lk.append(_df(spark, [("NEW", 1.0)]))
        assert lk.snapshot().count() == 4


class TestLogVacuum:
    def _lake(self, spark, tmp_path, every=5):
        return TransactionalLake(
            spark, str(tmp_path / "lv"), partition_by=(),
            checkpoint_every=every,
        )

    def test_vacuum_log_keeps_head_reads_working(self, spark, tmp_path):
        lk = self._lake(spark, tmp_path, every=5)
        for i in range(12):
            lk.append(_df(spark, [(f"S{i}", float(i))]))
        removed = lk.vacuum_log()
        assert removed >= 10  # commits v0..v9 + the v4 checkpoint
        assert lk.version == 11
        assert lk.snapshot().count() == 12
        # fresh handle: layout + txn index + stats resolve from cp
        fresh = TransactionalLake(
            spark, lk.path, partition_by=None, checkpoint_every=5
        )
        assert fresh.partition_by == ()
        assert fresh.snapshot().count() == 12

    def test_pre_retention_time_travel_raises(self, spark, tmp_path):
        lk = self._lake(spark, tmp_path, every=5)
        for i in range(12):
            lk.append(_df(spark, [(f"S{i}", float(i))]))
        lk.vacuum_log()
        with pytest.raises(ValueError, match="retention"):
            lk.snapshot(version=3)
        assert lk.snapshot(version=10).count() == 11  # retained range

    def test_pre_retention_cdc_raises(self, spark, tmp_path):
        lk = self._lake(spark, tmp_path, every=5)
        for i in range(12):
            lk.append(_df(spark, [(f"S{i}", float(i))]))
        lk.vacuum_log()
        with pytest.raises(ValueError, match="retention"):
            lk.read_changes(starting_version=2)
        assert lk.read_changes(starting_version=10).count() >= 2

    def test_retain_last_grace_window(self, spark, tmp_path):
        """retain_last aligns the boundary to a CHECKPOINT at or
        before head-3 (cp v4 here): versions >= 4 stay resolvable
        (older cp + retained commits), versions < 4 raise."""
        lk = self._lake(spark, tmp_path, every=5)
        for i in range(12):
            lk.append(_df(spark, [(f"S{i}", float(i))]))
        lk.vacuum_log(retain_last=3)
        assert lk.snapshot(version=8).count() == 9   # cp4 + v5..v8
        assert lk.snapshot(version=4).count() == 5   # the cp itself
        assert lk.snapshot(version=11).count() == 12
        with pytest.raises(ValueError, match="retention"):
            lk.snapshot(version=3)

    def test_writes_continue_after_full_truncation(self, spark, tmp_path):
        """Vacuum everything up to the checkpoint (head == cp), then
        keep writing: versions continue from the checkpoint, and the
        next checkpoint builds from the previous one."""
        lk = self._lake(spark, tmp_path, every=5)
        for i in range(5):
            lk.append(_df(spark, [(f"S{i}", float(i))]))
        lk.vacuum_log()  # zero commit files remain; head == cp v4
        assert lk.version == 4
        for i in range(6):
            lk.append(_df(spark, [(f"T{i}", float(i))]))
        assert lk.version == 10
        assert lk.snapshot().count() == 11
        cps = [
            f for f in os.listdir(lk.log_path) if f.endswith(".checkpoint")
        ]
        assert "00000009.checkpoint" in cps


class TestScopedOptimize:
    def _mk(self, spark, tmp_path, name="sc"):
        from market_data_lakehouse_spark.txnlog import TransactionalLake

        return TransactionalLake(
            spark, str(tmp_path / name), partition_by=("date",)
        )

    def test_where_scopes_rewrite_to_matching_partitions(
        self, spark, tmp_path
    ):
        lake = self._mk(spark, tmp_path)
        lake.append(_df(spark, [("AAPL", 1), ("AAPL", 2)], date="2024-06-15"))
        lake.append(_df(spark, [("MSFT", 3), ("MSFT", 4)], date="2024-06-16"))
        lake.append(_df(spark, [("GOOG", 5)], date="2024-06-15"))
        before, _, _ = lake.prune_files({})
        d16 = [f for f in before if "date=2024-06-16" in f]
        lake.optimize(where={"date": ("2024-06-15", "2024-06-15")})
        after, _, _ = lake.prune_files({})
        # untouched partition keeps its exact files
        assert set(d16) <= set(after)
        # scoped partition was rewritten
        d15_before = {f for f in before if "date=2024-06-15" in f}
        d15_after = {f for f in after if "date=2024-06-15" in f}
        assert d15_before.isdisjoint(d15_after)
        assert len(d15_after) == 1  # bin-packed
        assert lake.snapshot().count() == 5

    def test_min_file_size_skips_large_files(self, spark, tmp_path):
        lake = self._mk(spark, tmp_path, "mfs")
        lake.append(_df(spark, [("AAPL", i) for i in range(200)]))
        lake.append(_df(spark, [("AAPL", 900)]))
        lake.append(_df(spark, [("AAPL", 901)]))
        files, _, _ = lake.prune_files({})
        sizes = {f: lake._file_size(f) for f in files}
        big = max(sizes, key=sizes.get)
        cut = sizes[big]  # everything strictly smaller than the big file
        lake.optimize(min_file_size=cut)
        after, _, _ = lake.prune_files({})
        assert big in after  # large file untouched
        small_before = [f for f in files if f != big]
        assert set(small_before).isdisjoint(after)  # small tail packed
        assert lake.snapshot().count() == 202

    def test_scope_selecting_nothing_is_a_noop(self, spark, tmp_path):
        lake = self._mk(spark, tmp_path, "noop")
        lake.append(_df(spark, [("AAPL", 1)], date="2024-06-15"))
        v = lake.version
        lake.optimize(where={"date": ("1999-01-01", "1999-01-02")})
        assert lake.version == v  # no version burned
        lake.optimize()  # single file, no vectors: also a no-op
        assert lake.version == v

    def test_scoped_optimize_materializes_only_scoped_vectors(
        self, spark, tmp_path
    ):
        lake = self._mk(spark, tmp_path, "dvs")
        lake.append(_df(spark, [("AAPL", 1), ("AAPL", 2)], date="2024-06-15"))
        lake.append(_df(spark, [("MSFT", 3), ("MSFT", 4)], date="2024-06-16"))
        lake.delete_where("price = 1", mode="dv")
        lake.delete_where("price = 3", mode="dv")
        lake.optimize(where={"date": ("2024-06-15", "2024-06-15")})
        _files, _schemas, _v, dvs = lake._snapshot_state()
        # the 06-16 vector survives; the 06-15 one materialized away
        assert len(dvs) == 1
        assert "date=2024-06-16" in next(iter(dvs))
        got = sorted(r.price for r in lake.snapshot().collect())
        assert got == [2, 4]


class TestOverwriteWhere:
    def test_replaces_matching_partition_only(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 1), ("MSFT", 2)], date="2024-06-15"))
        lake.append(_df(spark, [("GOOG", 3)], date="2024-06-16"))
        before, _, _ = lake.prune_files({})
        d16 = [f for f in before if "date=2024-06-16" in f]
        v = lake.overwrite_where(
            _df(spark, [("NVDA", 9), ("AMD", 8)], date="2024-06-15"),
            "date = '2024-06-15'",
        )
        after, _, _ = lake.prune_files({})
        assert set(d16) <= set(after)  # other partition untouched
        got = {(r.symbol, r.price) for r in lake.snapshot().collect()}
        assert got == {("NVDA", 9.0), ("AMD", 8.0), ("GOOG", 3.0)}
        # time travel sees the pre-swap state
        pre = {r.symbol for r in lake.snapshot(version=v - 1).collect()}
        assert pre == {"AAPL", "MSFT", "GOOG"}

    def test_row_level_predicate_keeps_survivors(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 1), ("MSFT", 2), ("GOOG", 3)]))
        lake.overwrite_where(
            _df(spark, [("AAPL", 100)]), "symbol = 'AAPL'"
        )
        got = {(r.symbol, r.price) for r in lake.snapshot().collect()}
        assert got == {("AAPL", 100.0), ("MSFT", 2.0), ("GOOG", 3.0)}

    def test_input_outside_predicate_raises(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 1)], date="2024-06-15"))
        with pytest.raises(ValueError, match="satisfy the predicate"):
            lake.overwrite_where(
                _df(spark, [("MSFT", 2)], date="2024-06-16"),
                "date = '2024-06-15'",
            )

    def test_respects_deletion_vectors(self, spark, lake):
        """dv-hidden rows must not be resurrected as survivors of the
        rewrite, and vectors on untouched files must survive."""
        lake.append(_df(spark, [("AAPL", 1), ("MSFT", 2)], date="2024-06-15"))
        lake.append(_df(spark, [("GOOG", 3), ("META", 4)], date="2024-06-16"))
        lake.delete_where("symbol = 'MSFT'", mode="dv")
        lake.delete_where("symbol = 'META'", mode="dv")
        lake.overwrite_where(
            _df(spark, [("NVDA", 9)], date="2024-06-15"),
            "date = '2024-06-15'",
        )
        got = {r.symbol for r in lake.snapshot().collect()}
        assert got == {"NVDA", "GOOG"}  # MSFT/META stay deleted
        _f, _s, _v, dvs = lake._snapshot_state()
        assert len(dvs) == 1 and "date=2024-06-16" in next(iter(dvs))

    def test_empty_table_seeds(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "ow"), partition_by=("date",)
        )
        lake.overwrite_where(
            _df(spark, [("AAPL", 1)], date="2024-06-15"),
            "date = '2024-06-15'",
        )
        assert lake.snapshot().count() == 1

    def test_cdc_emits_delete_insert(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 1), ("MSFT", 2)]))
        v = lake.overwrite_where(
            _df(spark, [("AAPL", 10)]), "symbol = 'AAPL'"
        )
        ch = lake.read_changes(v)
        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        net = {
            r.symbol: r.n
            for r in ch.groupBy("symbol").agg(F.sum(sign).alias("n")).collect()
        }
        # AAPL: old deleted + new inserted (net 0 count, new price);
        # MSFT survivor churns delete+insert (net 0) — file-grained CDC
        assert net.get("AAPL", 0) == 0 and net.get("MSFT", 0) == 0
        ins = {
            (r.symbol, r.price)
            for r in ch.filter("_change_type = 'insert'").collect()
        }
        assert ("AAPL", 10.0) in ins


class TestMetadataCount:
    """count_rows: metadata-only COUNT(*) from logged per-file row
    counts (Delta numRecords parity) — correct across appends, dv
    deletes/updates, copy-on-write rewrites, compaction, restore
    across vectors, time travel, checkpoints, and the pre-feature
    footer fallback."""

    def test_append_and_dv_delete(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300), ("GOOG", 10)]))
        assert lake.count_rows() == 3
        lake.delete_where("price > 100", mode="dv")
        assert lake.count_rows() == 1
        assert lake.count_rows() == lake.snapshot().count()

    def test_dv_update_keeps_count(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        lake.update_where("price > 200", {"price": "price + 1"}, mode="dv")
        # dv UPDATE hides 1 preimage and adds 1 postimage: net 0
        assert lake.count_rows() == 2

    def test_rewrite_compact_and_time_travel(self, spark, lake):
        v0 = lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        lake.append(_df(spark, [("TSLA", 900)]))
        lake.delete_where("symbol = 'MSFT'")  # copy-on-write
        assert lake.count_rows() == 2
        lake.optimize()
        assert lake.count_rows() == 2
        assert lake.count_rows(version=v0) == 2  # pre-delete snapshot
        assert lake.count_rows(version=v0 + 1) == 3

    def test_restore_across_dv(self, spark, lake):
        lake.append(_df(spark, [("A", 1), ("B", 2), ("C", 3)]))
        v1 = lake.delete_where("price = 1", mode="dv")
        lake.delete_where("price = 2", mode="dv")
        assert lake.count_rows() == 1
        lake.restore(version=v1)  # dv_reset back to the first vector
        assert lake.count_rows() == 2
        assert lake.count_rows() == lake.snapshot().count()

    def test_checkpoint_carries_rows(self, spark, lake):
        for i in range(3):
            lake.append(_df(spark, [(f"S{i}", 10 + i)]))
        lake._write_checkpoint(lake.version)
        lake.vacuum_log()
        assert lake.count_rows() == 3

    def test_pre_feature_commit_falls_back_to_footer(self, spark, lake):
        import json as _json

        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        # simulate a commit written before row counts existed
        cpath = os.path.join(lake.log_path, "00000000.json")
        doc = _json.load(open(cpath))
        doc.pop("rows", None)
        with open(cpath, "w") as fh:
            _json.dump(doc, fh)
        assert lake.count_rows() == 2


class TestIdentityColumn:
    """GENERATED ALWAYS AS IDENTITY: contiguous unique ids from a
    log-tracked high-water mark, assigned without a global sort."""

    def test_contiguous_across_appends_and_partitions(self, spark, lake):
        lake.set_identity("row_id")
        lake.append(
            _df(spark, [(f"S{i}", 10 + i) for i in range(7)]).repartition(3)
        )
        lake.append(
            _df(spark, [(f"T{i}", 50 + i) for i in range(5)]).repartition(2)
        )
        ids = sorted(r.row_id for r in lake.snapshot().select("row_id").collect())
        assert ids == list(range(12))
        assert lake.identity_state() == ("row_id", 12)

    def test_generated_always_rejects_supplied_values(self, spark, lake):
        lake.set_identity("row_id")
        df = _df(spark, [("AAPL", 1)]).withColumn("row_id", F.lit(99))
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            lake.append(df)

    def test_must_be_declared_before_data(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 1)]))
        with pytest.raises(ValueError, match="before any data"):
            lake.set_identity("row_id")

    def test_custom_start(self, spark, lake):
        lake.set_identity("row_id", start=1000)
        lake.append(_df(spark, [("A", 1), ("B", 2)]))
        ids = sorted(r.row_id for r in lake.snapshot().collect())
        assert ids == [1000, 1001]

    def test_concurrent_identity_appends_conflict(self, spark, tmp_path):
        path = str(tmp_path / "tx")
        lake = TransactionalLake(spark, path, partition_by=())
        lake.set_identity("row_id")
        other = TransactionalLake(spark, path, partition_by=())

        orig = lake._checked_write
        done = []

        def racing(df, op, skip_empty=False):
            out = orig(df, op, skip_empty=skip_empty)
            if not done:
                done.append(1)
                other.append(_df(spark, [("RACE", 1)]))
            return out

        lake._checked_write = racing  # type: ignore[method-assign]
        try:
            with pytest.raises(RuntimeError, match="identity"):
                lake.append(_df(spark, [("MINE", 2)]))
        finally:
            lake._checked_write = orig  # type: ignore[method-assign]
        # the loser's retry path: re-read and append again — ids
        # stay unique and contiguous
        lake.append(_df(spark, [("MINE", 2)]))
        ids = sorted(r.row_id for r in lake.snapshot().collect())
        assert ids == [0, 1]

    def test_identity_toctou_race_before_state_read(self, spark, tmp_path):
        """ADVICE r9 (TOCTOU): a commit that assigns ids and lands
        AFTER the version capture but BEFORE the high-water-mark fold
        must still trip the conflict scan. Pre-fix, append() read the
        mark first and the version second, so a racer in that window
        sat at v <= id_read_v — invisible to the scan — and both
        writers claimed the same id range silently."""
        path = str(tmp_path / "tx_toctou")
        lake = TransactionalLake(spark, path, partition_by=())
        lake.set_identity("row_id")
        other = TransactionalLake(spark, path, partition_by=())

        real = lake._identity_doc  # append's state read (r12)
        done = []

        def racing(as_of=None):
            if not done:
                done.append(1)
                # lands between append()'s version capture and its
                # state fold — exactly the pre-fix blind spot
                other.append(_df(spark, [("RACE", 1)]))
            return real(as_of=as_of)

        lake._identity_doc = racing  # type: ignore[method-assign]
        try:
            with pytest.raises(RuntimeError, match="identity"):
                lake.append(_df(spark, [("MINE", 2)]))
        finally:
            lake._identity_doc = real  # type: ignore[method-assign]
        # loser retries; ids stay unique and contiguous
        lake.append(_df(spark, [("MINE", 2)]))
        ids = sorted(r.row_id for r in lake.snapshot().collect())
        assert ids == [0, 1]

    def test_survives_checkpoint_and_vacuum(self, spark, lake):
        lake.set_identity("row_id")
        lake.append(_df(spark, [("A", 1), ("B", 2)]))
        lake._write_checkpoint(lake.version)
        lake.vacuum_log()
        assert lake.identity_state() == ("row_id", 2)
        lake.append(_df(spark, [("C", 3)]))
        ids = sorted(r.row_id for r in lake.snapshot().collect())
        assert ids == [0, 1, 2]

    def test_clone_carries_high_water(self, spark, lake, tmp_path):
        lake.set_identity("row_id")
        lake.append(_df(spark, [("A", 1), ("B", 2)]))
        clone = lake.clone(str(tmp_path / "clone"))
        assert clone.identity_state() == ("row_id", 2)
        clone.append(_df(spark, [("C", 3)]))
        ids = sorted(r.row_id for r in clone.snapshot().collect())
        assert ids == [0, 1, 2]


class TestConstraintsSurviveVacuum:
    def test_constraint_survives_checkpoint_and_vacuum(self, spark, lake):
        """r9 fix: constraints fold into checkpoints — previously a
        vacuum_log that deleted the add_constraint commit silently
        dropped enforcement."""
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.add_check_constraint("pos_price", "price > 0")
        lake._write_checkpoint(lake.version)
        lake.vacuum_log()
        assert lake.check_constraints() == {"pos_price": "price > 0"}
        with pytest.raises(ValueError, match="pos_price"):
            lake.append(_df(spark, [("BAD", -1)]))

    def test_clone_carries_constraints(self, spark, lake, tmp_path):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.add_check_constraint("pos_price", "price > 0")
        clone = lake.clone(str(tmp_path / "clone2"))
        assert clone.check_constraints() == {"pos_price": "price > 0"}
        with pytest.raises(ValueError, match="pos_price"):
            clone.append(_df(spark, [("BAD", -1)]))


class TestGeneratedPartitionPruning:
    """r9: a timestamp predicate must prune date partitions when the
    date column is GENERATED from the timestamp (Delta's
    generated-column partition filters) — the caller never names the
    partition column."""

    def _lake(self, spark, tmp_path):
        from datetime import datetime

        lake = TransactionalLake(
            spark,
            str(tmp_path / "gen"),
            partition_by=("date",),
            generated_columns={"date": "to_date(ts)"},
        )
        rows = [
            (s, datetime(2024, 6, d, 12, 0, 0), float(p))
            for d, (s, p) in enumerate(
                [("AAPL", 1), ("MSFT", 2), ("GOOG", 3)], start=14
            )
        ]
        lake.append(
            spark.createDataFrame(
                rows, "symbol string, ts timestamp, price double"
            )
        )
        return lake

    def test_ts_bounds_prune_date_partitions(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        kept, total, _ = lake.prune_files(
            {"ts": ("2024-06-15 00:00:00", "2024-06-15 23:59:59")}
        )
        assert total == 3
        assert len(kept) == 1 and "date=2024-06-15" in kept[0]
        # scan_between result equals the unpruned filter exactly
        got = lake.scan_between(
            {"ts": ("2024-06-15 00:00:00", "2024-06-15 23:59:59")}
        ).collect()
        assert [r.symbol for r in got] == ["MSFT"]

    def test_one_sided_ts_bound_prunes(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        kept, _, _ = lake.prune_files(
            {"ts": ("2024-06-16 00:00:00", None)}
        )
        assert len(kept) == 1 and "date=2024-06-16" in kept[0]

    def test_explicit_date_bounds_win(self, spark, tmp_path):
        """Caller-supplied partition bounds are never overridden by
        the derivation."""
        lake = self._lake(spark, tmp_path)
        kept, _, _ = lake.prune_files(
            {
                "ts": ("2024-06-14 00:00:00", "2024-06-16 23:59:59"),
                "date": ("2024-06-16", "2024-06-16"),
            }
        )
        assert len(kept) == 1 and "date=2024-06-16" in kept[0]

    def test_non_date_expression_derives_nothing(self, spark, tmp_path):
        lake = TransactionalLake(
            spark,
            str(tmp_path / "gen2"),
            partition_by=("bucket",),
            generated_columns={"bucket": "pmod(hash(symbol), 4)"},
        )
        lake.append(
            spark.createDataFrame(
                [("AAPL", 1.0), ("MSFT", 2.0)], "symbol string, price double"
            )
        )
        # a non-monotone generated expression must derive NO partition
        # bound (stats-based skipping may still prune on its own)
        assert lake._derived_partition_bounds(
            {"symbol": ("AAPL", "AAPL")}
        ) == {}
        # and a non-ISO source bound derives nothing either
        assert lake._derived_partition_bounds({"price": (1.0, 2.0)}) == {}

    def test_tz_aware_bound_derives_nothing(self, spark, tmp_path):
        """ADVICE r9: to_date(ts) partition values were computed in
        the SESSION timezone; a tz-aware bound can name a calendar
        date one day off from the session-tz date — deriving from it
        risks a wrong skip. Tz-aware sides must derive nothing
        (conservative keep); naive sides still prune."""
        lake = self._lake(spark, tmp_path)
        # both sides tz-aware (offset / Z): no derivation at all
        assert lake._derived_partition_bounds(
            {"ts": ("2024-06-15 00:00:00+09:00", "2024-06-15 23:59:59Z")}
        ) == {}
        # mixed: the naive side still derives, tz side is unbounded
        assert lake._derived_partition_bounds(
            {"ts": ("2024-06-15 00:00:00", "2024-06-15 23:59:59-05:00")}
        ) == {"date": ("2024-06-15", None)}
        # naive-with-time and date-only forms keep deriving (no
        # false positives from the tz rejection)
        assert lake._derived_partition_bounds(
            {"ts": ("2024-06-15", "2024-06-16 23:59:59.500")}
        ) == {"date": ("2024-06-15", "2024-06-16")}


class TestColumnMapping:
    """r10: Delta column-mapping parity — RENAME/DROP COLUMN as
    metadata-only commits. Physical file columns never change;
    reads project logical names through the log-carried map, writes
    translate back, and the map folds through checkpoints,
    vacuum_log, clone, and restore (the r9 constraints-vacuum
    silent-drop bug class, regression-tested here FIRST)."""

    def _flat(self, spark, tmp_path, name="cm"):
        lake = TransactionalLake(
            spark, str(tmp_path / name), partition_by=()
        )
        lake.append(spark.createDataFrame(
            [("AAPL", 150.0), ("MSFT", 300.0)],
            "symbol string, price double",
        ))
        return lake

    def test_rename_is_metadata_only(self, spark, tmp_path):
        lake = self._flat(spark, tmp_path)
        files_before = sorted(lake._snapshot_state()[0])
        lake.rename_column("price", "px")
        assert sorted(lake._snapshot_state()[0]) == files_before  # no rewrite
        assert lake.snapshot().columns == ["symbol", "px"]
        got = {r.symbol: r.px for r in lake.snapshot().collect()}
        assert got == {"AAPL": 150.0, "MSFT": 300.0}

    def test_time_travel_across_rename(self, spark, tmp_path):
        lake = self._flat(spark, tmp_path)
        v0 = lake.version
        lake.rename_column("price", "px")
        assert lake.snapshot(version=v0).columns == ["symbol", "price"]
        assert lake.snapshot().columns == ["symbol", "px"]

    def test_write_read_dml_after_rename(self, spark, tmp_path):
        lake = self._flat(spark, tmp_path)
        lake.rename_column("price", "px")
        lake.append(spark.createDataFrame(
            [("GOOG", 2800.0)], "symbol string, px double"))
        lake.update_where("symbol = 'AAPL'", {"px": "px * 2"})
        lake.delete_where("px > 1000")
        got = {r.symbol: r.px for r in lake.snapshot().collect()}
        assert got == {"AAPL": 300.0, "MSFT": 300.0}

    def test_dv_dml_after_rename(self, spark, tmp_path):
        lake = self._flat(spark, tmp_path)
        lake.rename_column("price", "px")
        lake.delete_where("px < 200", mode="dv")
        assert {r.symbol for r in lake.snapshot().collect()} == {"MSFT"}
        lake.update_where("px = 300", {"px": "px + 1"}, mode="dv")
        assert [r.px for r in lake.snapshot().collect()] == [301.0]

    def test_merge_after_rename(self, spark, tmp_path):
        lake = self._flat(spark, tmp_path)
        lake.rename_column("price", "px")
        src = spark.createDataFrame(
            [("AAPL", 111.0), ("TSLA", 500.0)], "symbol string, px double")
        lake.merge(src, on="symbol")
        got = {r.symbol: r.px for r in lake.snapshot().collect()}
        assert got == {"AAPL": 111.0, "MSFT": 300.0, "TSLA": 500.0}

    def test_stats_pruning_survives_rename(self, spark, tmp_path):
        """Renames must keep every logged min/max stat usable: the
        bounds translate to the physical name the stats bind to."""
        lake = TransactionalLake(
            spark, str(tmp_path / "pr"), partition_by=())
        lake.append(spark.createDataFrame(
            [("A", 1.0)], "symbol string, price double"))
        lake.append(spark.createDataFrame(
            [("B", 100.0)], "symbol string, price double"))
        lake.rename_column("price", "px")
        kept, total, _ = lake.prune_files({"px": (50.0, None)})
        assert total == 2 and len(kept) == 1
        got = lake.scan_between({"px": (50.0, None)}).collect()
        assert [r.symbol for r in got] == ["B"]
        assert got[0].__fields__ == ["symbol", "px"]

    def test_drop_column_hides_then_fresh_rebind(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "dc"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, "a", 9.0)], "id long, tag string, junk double"))
        lake.drop_column("junk")
        assert lake.snapshot().columns == ["id", "tag"]
        # re-adding the same logical name binds a FRESH physical
        # column: old bytes must stay dead (null for row 1)
        lake.append(spark.createDataFrame(
            [(2, "b", 77.0)], "id long, tag string, junk double"),
            merge_schema=True)
        got = {r.id: r.junk for r in
               lake.snapshot().select("id", "junk").collect()}
        assert got == {1: None, 2: 77.0}
        # the physical name on disk is distinct from the old one
        m = lake.column_mapping()
        assert m["junk"] != "junk"

    def test_drop_guards(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "dg"), partition_by=("date",))
        lake.append(_df(spark, [("AAPL", 150)]))
        with pytest.raises(ValueError, match="partition"):
            lake.drop_column("date")
        lake.add_check_constraint("pos", "price > 0")
        with pytest.raises(ValueError, match="constraint"):
            lake.drop_column("price")
        with pytest.raises(ValueError, match="no such column"):
            lake.drop_column("ghost")

    def test_constraint_enforced_across_rename(self, spark, tmp_path):
        """A CHECK added before the rename keeps enforcing after it
        (the stored expr binds to the physical name)."""
        lake = self._flat(spark, tmp_path)
        lake.add_check_constraint("pos_price", "price > 0")
        lake.rename_column("price", "px")
        with pytest.raises(ValueError, match="pos_price"):
            lake.append(spark.createDataFrame(
                [("BAD", -1.0)], "symbol string, px double"))

    def test_mapping_survives_checkpoint_and_vacuum(self, spark, tmp_path):
        lake = self._flat(spark, tmp_path)
        lake.rename_column("price", "px")
        lake._write_checkpoint(lake.version)
        lake.vacuum_log()
        assert lake.column_mapping() == {"symbol": "symbol",
                                         "px": "price"}
        assert lake.snapshot().columns == ["symbol", "px"]
        lake.append(spark.createDataFrame(
            [("TSLA", 500.0)], "symbol string, px double"))
        assert lake.snapshot().count() == 3

    def test_clone_carries_mapping(self, spark, tmp_path):
        lake = self._flat(spark, tmp_path)
        lake.rename_column("price", "px")
        clone = lake.clone(str(tmp_path / "cl"))
        assert clone.snapshot().columns == ["symbol", "px"]
        clone.append(spark.createDataFrame(
            [("TSLA", 500.0)], "symbol string, px double"))
        assert clone.snapshot().count() == 3

    def test_restore_across_rename_reverts_names(self, spark, tmp_path):
        lake = self._flat(spark, tmp_path)
        v0 = lake.version
        lake.rename_column("price", "px")
        lake.restore(version=v0)
        assert lake.snapshot().columns == ["symbol", "price"]
        # and forward again: rename after the restore still works
        lake.rename_column("price", "usd")
        assert lake.snapshot().columns == ["symbol", "usd"]

    def test_cdc_emits_logical_names(self, spark, tmp_path):
        lake = self._flat(spark, tmp_path)
        lake.rename_column("price", "px")
        lake.append(spark.createDataFrame(
            [("TSLA", 500.0)], "symbol string, px double"))
        ch = lake.read_changes(starting_version=0)
        assert "px" in ch.columns and "price" not in ch.columns
        ins = ch.filter("_change_type = 'insert'")
        assert ins.count() == 3

    def test_rename_collision_and_unknown(self, spark, tmp_path):
        lake = self._flat(spark, tmp_path)
        with pytest.raises(ValueError, match="already exists"):
            lake.rename_column("price", "symbol")
        with pytest.raises(ValueError, match="no such column"):
            lake.rename_column("ghost", "x")
        with pytest.raises(ValueError, match="invalid column name"):
            lake.rename_column("price", "bad name")

    def test_reorg_purge_reclaims_dropped_bytes(self, spark, tmp_path):
        """drop_column hides instantly; reorg_purge physically
        removes the bytes — post-purge parquet footers must not
        carry the dropped physical column, data and schema must be
        unchanged, and a purge with nothing dropped is a no-op."""
        import pyarrow.parquet as pq

        lake = TransactionalLake(
            spark, str(tmp_path / "rp"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, "a", 9.0), (2, "b", 8.0)],
            "id long, tag string, junk double"))
        lake.drop_column("junk")
        files = lake._snapshot_state()[0]
        assert any(
            "junk" in pq.read_schema(
                os.path.join(lake.path, f)).names
            for f in files
        )
        v = lake.reorg_purge()
        assert v > lake.version - 1  # committed
        files2 = lake._snapshot_state()[0]
        for f in files2:
            assert "junk" not in pq.read_schema(
                os.path.join(lake.path, f)).names
        assert sorted(
            (r.id, r.tag) for r in lake.snapshot().collect()
        ) == [(1, "a"), (2, "b")]
        # idempotent: nothing left to purge -> no new version
        assert lake.reorg_purge() == lake.version

    def test_rename_chain_and_reuse_of_old_name(self, spark, tmp_path):
        """price -> px, then a NEW logical column named price: the
        new price must bind a fresh physical slot, not the old
        bytes."""
        lake = self._flat(spark, tmp_path)
        lake.rename_column("price", "px")
        lake.append(spark.createDataFrame(
            [("GOOG", 2800.0, 1.0)],
            "symbol string, px double, price double"), merge_schema=True)
        m = lake.column_mapping()
        assert m["px"] == "price" and m["price"] != "price"
        got = {r.symbol: (r.px, r.price)
               for r in lake.snapshot().collect()}
        assert got["GOOG"] == (2800.0, 1.0)
        assert got["AAPL"] == (150.0, None)


class TestMergedSchemaHistory:
    """r10 (found by the column-mapping model test): the table schema
    is the UNION of the batch-schema history — every consumer that
    read schemas[-1] as "the table schema" forgot evolved columns
    the moment a narrower batch landed. For _conform that was real
    DATA LOSS: a DELETE rewriting a wide file after a narrow append
    nulled the survivors' evolved columns."""

    def test_delete_rewrite_preserves_evolved_column(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "ms"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, 10, 100), (3, 30, 300)],
            "id long, val long, x long").repartition(1))
        lake.append(spark.createDataFrame(
            [(2, 20)], "id long, val long"))  # narrow batch LAST
        lake.delete_where("id = 1")  # rewrites the wide file
        got = {r.id: r.asDict().get("x")
               for r in lake.snapshot().collect()}
        assert got == {2: None, 3: 300}, got  # 300 must SURVIVE

    def test_update_rewrite_preserves_evolved_column(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "ms2"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, 10, 100), (3, 30, 300)],
            "id long, val long, x long").repartition(1))
        lake.append(spark.createDataFrame(
            [(2, 20)], "id long, val long"))
        lake.update_where("id = 1", {"val": "val + 1"})
        got = {r.id: (r.val, r.asDict().get("x"))
               for r in lake.snapshot().collect()}
        assert got == {1: (11, 100), 2: (20, None), 3: (30, 300)}, got

    def test_overwrite_where_preserves_evolved_column(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "ms3"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, 10, 100), (3, 30, 300)],
            "id long, val long, x long").repartition(1))
        lake.append(spark.createDataFrame(
            [(2, 20)], "id long, val long"))
        lake.overwrite_where(
            spark.createDataFrame([(4, 40)], "id long, val long"),
            "id = 1 OR id = 4",
        )
        got = {r.id: r.asDict().get("x")
               for r in lake.snapshot().collect()}
        assert got == {2: None, 3: 300, 4: None}, got

    def test_previously_seen_column_needs_no_merge_schema(
        self, spark, tmp_path
    ):
        """A column evolved in at any commit stays KNOWN: appending
        it again after a narrow batch must not re-demand
        merge_schema=True."""
        lake = TransactionalLake(
            spark, str(tmp_path / "ms4"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, 10)], "id long, val long"))
        lake.append(spark.createDataFrame(
            [(2, 20, 200)], "id long, val long, x long"),
            merge_schema=True)
        lake.append(spark.createDataFrame(
            [(3, 30)], "id long, val long"))  # narrow again
        # x was already evolved in — no merge_schema needed now
        lake.append(spark.createDataFrame(
            [(4, 40, 400)], "id long, val long, x long"))
        got = {r.id: r.asDict().get("x")
               for r in lake.snapshot().collect()}
        assert got == {1: None, 2: 200, 3: None, 4: 400}, got

    def test_empty_snapshot_carries_union_schema(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "ms5"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, 10, 100)], "id long, val long, x long"))
        lake.append(spark.createDataFrame(
            [(2, 20)], "id long, val long"))
        lake.delete_where("id >= 0")  # table now empty of rows
        assert lake.snapshot().columns == ["id", "val", "x"]

    def test_clone_carries_union_schema(self, spark, tmp_path):
        """A clone taken after a narrow append must keep the evolved
        column in ITS schema history — else DML on the clone re-opens
        the data-loss bug."""
        lake = TransactionalLake(
            spark, str(tmp_path / "ms6"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, 10, 100), (3, 30, 300)],
            "id long, val long, x long").repartition(1))
        lake.append(spark.createDataFrame(
            [(2, 20)], "id long, val long"))
        clone = lake.clone(str(tmp_path / "ms6c"))
        clone.delete_where("id = 1")
        got = {r.id: r.asDict().get("x")
               for r in clone.snapshot().collect()}
        assert got == {2: None, 3: 300}, got

    def test_dv_predicate_on_evolved_column_after_narrow_append(
        self, spark, tmp_path
    ):
        lake = TransactionalLake(
            spark, str(tmp_path / "ms7"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, 10, 100), (3, 30, 300)],
            "id long, val long, x long").repartition(1))
        lake.append(spark.createDataFrame(
            [(2, 20)], "id long, val long"))
        lake.delete_where("x = 300", mode="dv")
        got = sorted(r.id for r in lake.snapshot().collect())
        assert got == [1, 2], got

    def test_pruned_read_keeps_snapshot_column_order(self, spark, tmp_path):
        """A stats-pruned read that keeps only pre-evolution files
        still returns the table's columns in snapshot() order: data
        columns in log order, then partition columns."""
        lake = TransactionalLake(
            spark, str(tmp_path / "ms8"), partition_by=("date",))
        lake.append(spark.createDataFrame(
            [("A", 0, "2024-06-15")], "sym string, v int, date string"))
        lake.append(spark.createDataFrame(
            [("B", 5, "2024-06-16", 9)],
            "sym string, v int, date string, x int"),
            merge_schema=True)
        kept = lake._pruned_state({"v": (0, 1)}, None)[0]
        assert len(kept) == 1  # only the pre-evolution file
        pruned = lake.scan_between({"v": (0, 1)})
        assert pruned.dtypes == lake.snapshot().dtypes
        assert [(r.sym, r.x) for r in pruned.collect()] == [("A", None)]


class TestColumnMappingInteractions:
    """Renames against the columns other table machinery binds to:
    partition layout, identity assignment, and generated columns all
    bind PHYSICALLY, so a logical rename must leave them working."""

    def test_rename_partition_column(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "pp"), partition_by=("date",))
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.rename_column("date", "trade_date")
        assert lake.snapshot().columns == ["symbol", "price", "trade_date"]
        # writes through the new logical name land in the SAME
        # physical dir layout (date=...)
        lake.append(spark.createDataFrame(
            [("MSFT", 300.0, "2024-06-16")],
            "symbol string, price double, trade_date string"))
        files = lake._snapshot_state()[0]
        assert all(f.startswith("date=") for f in files), files
        # logical-name bounds prune physical partition dirs
        kept, total, _ = lake.prune_files(
            {"trade_date": ("2024-06-16", "2024-06-16")})
        assert total == 2 and len(kept) == 1

    def test_rename_identity_column(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "ip"), partition_by=())
        lake.set_identity("row_id")
        lake.append(spark.createDataFrame([("A", 1.0)],
                                          "symbol string, price double"))
        lake.rename_column("row_id", "rid")
        lake.append(spark.createDataFrame([("B", 2.0)],
                                          "symbol string, price double"))
        ids = sorted(r.rid for r in lake.snapshot().collect())
        assert ids == [0, 1]
        # GENERATED ALWAYS still rejects a supplied value — through
        # the NEW logical name
        bad = spark.createDataFrame(
            [("C", 3.0, 99)], "symbol string, price double, rid long")
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            lake.append(bad)

    def test_rename_generated_source_column(self, spark, tmp_path):
        from datetime import datetime

        lake = TransactionalLake(
            spark, str(tmp_path / "gp"), partition_by=("date",),
            generated_columns={"date": "to_date(ts)"})
        lake.append(spark.createDataFrame(
            [("A", datetime(2024, 6, 15, 12, 0, 0), 1.0)],
            "symbol string, ts timestamp, price double"))
        lake.rename_column("ts", "event_time")
        # a batch under the new logical name still derives the
        # partition value from the physical source
        lake.append(spark.createDataFrame(
            [("B", datetime(2024, 6, 16, 12, 0, 0), 2.0)],
            "symbol string, event_time timestamp, price double"))
        files = lake._snapshot_state()[0]
        assert {f.split(os.sep)[0] for f in files} == {
            "date=2024-06-15", "date=2024-06-16"}
        # timestamp bounds through the NEW name still prune dates
        kept, total, _ = lake.prune_files(
            {"event_time": ("2024-06-16 00:00:00", None)})
        assert total == 2 and len(kept) == 1


class TestTableProperties:
    """r10: TBLPROPERTIES parity — free-form string metadata,
    versioned with the log, folding through checkpoints/vacuum/clone
    like every other table metadata (the r9 silent-drop bug class).
    Like Delta, RESTORE does NOT roll properties back — they are
    configuration, not data."""

    def test_set_unset_and_time_travel(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        v0 = lake.version
        lake.set_properties({"owner": "quant", "pii": "false"})
        v1 = lake.version
        lake.set_properties({"pii": None, "tier": "gold"})
        assert lake.properties() == {"owner": "quant", "tier": "gold"}
        assert lake.properties(as_of=v1) == {
            "owner": "quant", "pii": "false"}
        assert lake.properties(as_of=v0) == {}

    def test_survives_checkpoint_and_vacuum(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.set_properties({"owner": "quant"})
        lake._write_checkpoint(lake.version)
        lake.vacuum_log()
        assert lake.properties() == {"owner": "quant"}
        lake.set_properties({"tier": "gold"})
        assert lake.properties() == {"owner": "quant", "tier": "gold"}

    def test_clone_carries_properties(self, spark, lake, tmp_path):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.set_properties({"owner": "quant"})
        clone = lake.clone(str(tmp_path / "pclone"))
        assert clone.properties() == {"owner": "quant"}

    def test_restore_keeps_properties(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        v0 = lake.version
        lake.append(_df(spark, [("MSFT", 300)]))
        lake.set_properties({"owner": "quant"})
        lake.restore(version=v0)
        assert lake.properties() == {"owner": "quant"}
        assert lake.snapshot().count() == 1

    def test_values_coerce_to_strings_and_bad_keys_raise(
        self, spark, lake
    ):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.set_properties({"retention_days": 30})
        assert lake.properties() == {"retention_days": "30"}
        with pytest.raises(ValueError, match="non-empty"):
            lake.set_properties({"": "x"})
        v = lake.version
        assert lake.set_properties({}) == v  # no-op, no commit

    def test_detail_surfaces_properties(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.set_properties({"owner": "quant"})
        assert lake.detail()["properties"] == {"owner": "quant"}


class TestTypeWidening:
    """r10: metadata-only ALTER COLUMN TYPE widening (Delta
    type-widening parity): one log write, zero files rewritten; the
    Spark 4 parquet reader upcasts narrow files against the
    log-owned schema. Late narrow batches upcast on write and can
    never revert the widened type (widest-wins fold)."""

    def _intlake(self, spark, tmp_path, name="tw"):
        lake = TransactionalLake(
            spark, str(tmp_path / name), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, 10), (2, 20)], "id bigint, v int"))
        return lake

    def test_widen_is_metadata_only_and_reads_widen(
        self, spark, tmp_path
    ):
        lake = self._intlake(spark, tmp_path)
        files = sorted(lake._snapshot_state()[0])
        lake.widen_column_type("v", "bigint")
        assert sorted(lake._snapshot_state()[0]) == files  # no rewrite
        snap = lake.snapshot()
        assert dict(snap.dtypes)["v"] == "bigint"
        assert sorted((r.id, r.v) for r in snap.collect()) == [
            (1, 10), (2, 20)]

    def test_wide_and_narrow_batches_coexist(self, spark, tmp_path):
        lake = self._intlake(spark, tmp_path)
        lake.widen_column_type("v", "bigint")
        # a wide batch and a STILL-NARROW batch (old writer) both land
        lake.append(spark.createDataFrame([(3, 2**40)], "id bigint, v bigint"))
        lake.append(spark.createDataFrame([(4, 40)], "id bigint, v int"))
        snap = lake.snapshot()
        assert dict(snap.dtypes)["v"] == "bigint"
        got = sorted((r.id, r.v) for r in snap.collect())
        assert got == [(1, 10), (2, 20), (3, 2**40), (4, 40)]

    def test_dml_on_widened_table(self, spark, tmp_path):
        lake = self._intlake(spark, tmp_path)
        lake.widen_column_type("v", "bigint")
        lake.append(spark.createDataFrame([(3, 2**40)], "id bigint, v bigint"))
        lake.delete_where("v = 10")
        lake.update_where("id = 2", {"v": "v + 1"}, mode="dv")
        got = sorted((r.id, r.v) for r in lake.snapshot().collect())
        assert got == [(2, 21), (3, 2**40)]

    def test_float_to_double(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "fd"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, 1.5)], "id bigint, f float"))
        lake.widen_column_type("f", "double")
        snap = lake.snapshot()
        assert dict(snap.dtypes)["f"] == "double"
        assert snap.collect()[0].f == 1.5

    def test_unsupported_widenings_fail_loudly(self, spark, tmp_path):
        lake = self._intlake(spark, tmp_path)
        with pytest.raises(ValueError, match="not a reader-supported"):
            lake.widen_column_type("v", "smallint")  # narrowing
        lake2 = TransactionalLake(
            spark, str(tmp_path / "bd"), partition_by=())
        lake2.append(spark.createDataFrame([(1, 2)], "id bigint, v bigint"))
        with pytest.raises(ValueError, match="not a reader-supported"):
            lake2.widen_column_type("v", "double")  # bigint->double
        with pytest.raises(ValueError, match="no such column"):
            lake.widen_column_type("ghost", "bigint")
        # no-op: already at target
        v = lake.version
        assert lake.widen_column_type("id", "bigint") == v

    def test_divergent_append_fails_instead_of_poisoning_reads(
        self, spark, tmp_path
    ):
        """Pre-r10 a cross-family batch wrote files mergeSchema can
        never merge again — every later read died. Now the append
        itself fails loudly and the table stays readable."""
        lake = self._intlake(spark, tmp_path)
        with pytest.raises(ValueError, match="committed"):
            lake.append(spark.createDataFrame(
                [(9, "oops")], "id bigint, v string"))
        assert lake.snapshot().count() == 2

    def test_widen_survives_checkpoint_vacuum_and_clone(
        self, spark, tmp_path
    ):
        lake = self._intlake(spark, tmp_path)
        lake.widen_column_type("v", "bigint")
        lake._write_checkpoint(lake.version)
        lake.vacuum_log()
        assert dict(lake.snapshot().dtypes)["v"] == "bigint"
        lake.append(spark.createDataFrame([(5, 50)], "id bigint, v int"))
        assert dict(lake.snapshot().dtypes)["v"] == "bigint"
        clone = lake.clone(str(tmp_path / "twc"))
        assert dict(clone.snapshot().dtypes)["v"] == "bigint"
        got = sorted(r.v for r in clone.snapshot().collect())
        assert got == [10, 20, 50]

    def test_widen_through_column_mapping_rename(self, spark, tmp_path):
        lake = self._intlake(spark, tmp_path)
        lake.rename_column("v", "qty")
        lake.widen_column_type("qty", "bigint")
        snap = lake.snapshot()
        assert dict(snap.dtypes)["qty"] == "bigint"
        assert sorted(r.qty for r in snap.collect()) == [10, 20]

    def test_cdc_reads_widened_history(self, spark, tmp_path):
        lake = self._intlake(spark, tmp_path)
        lake.widen_column_type("v", "bigint")
        lake.append(spark.createDataFrame([(3, 2**40)], "id bigint, v bigint"))
        ch = lake.read_changes(starting_version=0)
        ins = ch.filter("_change_type = 'insert'")
        assert dict(ins.dtypes)["v"] == "bigint"
        assert sorted(r.v for r in ins.collect()) == [10, 20, 2**40]

    def test_time_travel_shows_prewiden_type_restore_keeps_wide(
        self, spark, tmp_path
    ):
        """Time travel BEFORE the widen reads the narrow type (the
        fold stops at the target version); a RESTORE across the
        widen keeps the widened read type — widening is a one-way
        door (values roll back exactly; the wider type is a safe
        superset)."""
        lake = self._intlake(spark, tmp_path)
        v0 = lake.version
        lake.widen_column_type("v", "bigint")
        assert dict(lake.snapshot(version=v0).dtypes)["v"] == "int"
        lake.restore(version=v0)
        snap = lake.snapshot()
        assert dict(snap.dtypes)["v"] == "bigint"
        assert sorted((r.id, r.v) for r in snap.collect()) == [
            (1, 10), (2, 20)]

    def test_widen_keeps_partition_column_type(self, spark, tmp_path):
        """Widening a data column leaves a partition column's type
        alone: partition columns take their type from the path on
        every read surface, so a date partition stays DATE."""
        lake = TransactionalLake(
            spark, str(tmp_path / "twp"), partition_by=("date",))
        lake.append(spark.createDataFrame(
            [(1, 10, "2024-06-15"), (2, 20, "2024-06-16")],
            "id bigint, v int, date string"))
        v0 = lake.version
        lake.widen_column_type("v", "bigint")
        lake.append(spark.createDataFrame(
            [(3, 2**40, "2024-06-16")], "id bigint, v bigint, date string"))
        reads = {
            "snapshot": lake.snapshot(),
            "time travel": lake.snapshot(version=v0),
            "scan_between": lake.scan_between({"v": (0, 2**41)}),
            "read_changes": lake.read_changes(0).filter(
                "_change_type = 'insert'"),
        }
        for name, df in reads.items():
            assert dict(df.dtypes)["date"] == "date", (name, df.dtypes)
        snap = reads["snapshot"]
        assert dict(snap.dtypes)["v"] == "bigint"
        assert sorted((r.id, r.v, str(r.date)) for r in snap.collect()) == [
            (1, 10, "2024-06-15"), (2, 20, "2024-06-16"),
            (3, 2**40, "2024-06-16")]


class TestRowTracking:
    """r10: ROW TRACKING (Delta row-tracking parity) — every row a
    stable 64-bit ``_row_id`` + ``_row_commit_version``, surviving
    compaction and copy-on-write DML. Fresh rows are metadata-priced
    (id = per-file base + row_index); only rewritten files pay the
    16-bytes/row materialization."""

    def _lake(self, spark, tmp_path, name="rt"):
        lake = TransactionalLake(
            spark, str(tmp_path / name), partition_by=())
        lake.append(spark.createDataFrame(
            [(i, f"k{i}", float(i)) for i in range(10)],
            "id bigint, k string, v double").repartition(3))
        return lake

    @staticmethod
    def _ids(lake, **kw):
        rows = lake.snapshot(with_row_ids=True, **kw).collect()
        m = {r["_row_id"]: (r.id, r["_row_commit_version"]) for r in rows}
        assert len(m) == len(rows), "duplicate _row_id"
        assert all(rid is not None for rid in m), "null _row_id"
        return m

    def test_enable_is_metadata_only_and_ids_are_contiguous(
        self, spark, tmp_path
    ):
        lake = self._lake(spark, tmp_path)
        files = sorted(lake._snapshot_state()[0])
        lake.enable_row_tracking()
        assert sorted(lake._snapshot_state()[0]) == files  # no rewrite
        m = self._ids(lake)
        assert sorted(m) == list(range(10))  # contiguous from 0
        assert lake.row_tracking() == {"enabled": True, "high_water": 10}
        # idempotent
        v = lake.version
        assert lake.enable_row_tracking() == v

    def test_fresh_appends_get_fresh_contiguous_ids(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.enable_row_tracking()
        lake.append(spark.createDataFrame(
            [(100 + i, f"n{i}", 0.0) for i in range(5)],
            "id bigint, k string, v double").repartition(2))
        m = self._ids(lake)
        assert sorted(m) == list(range(15))
        new_ids = {rid for rid, (bid, _) in m.items() if bid >= 100}
        assert new_ids == set(range(10, 15))

    def test_ids_survive_compaction(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.enable_row_tracking()
        before = self._ids(lake)
        lake.optimize()
        after = self._ids(lake)
        assert after == before  # same id -> same (business key, ver)

    def test_cow_delete_preserves_survivor_ids(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.enable_row_tracking()
        before = self._ids(lake)
        lake.delete_where("id % 3 = 0")
        after = self._ids(lake)
        gone = {rid for rid, (bid, _) in before.items() if bid % 3 == 0}
        assert after == {
            rid: bv for rid, bv in before.items() if rid not in gone}

    def test_dv_delete_preserves_survivor_ids(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.enable_row_tracking()
        before = self._ids(lake)
        lake.delete_where("id % 3 = 0", mode="dv")
        after = self._ids(lake)
        assert after == {
            rid: bv for rid, bv in before.items() if bv[0] % 3 != 0}

    def test_cow_update_keeps_id_bumps_version(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.enable_row_tracking()
        before = self._ids(lake)
        v = lake.update_where("id >= 7", {"v": "v * 10"})
        after = self._ids(lake)
        assert set(after) == set(before)
        for rid, (bid, ver) in after.items():
            if bid >= 7:
                assert ver == v, (rid, bid, ver)
            else:
                assert ver == before[rid][1], (rid, bid, ver)

    def test_dv_update_keeps_id_bumps_version(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.enable_row_tracking()
        before = self._ids(lake)
        v = lake.update_where("id >= 7", {"v": "v * 10"}, mode="dv")
        after = self._ids(lake)
        assert set(after) == set(before)
        for rid, (bid, ver) in after.items():
            assert ver == (v if bid >= 7 else before[rid][1])

    def test_merge_keeps_matched_ids_fresh_insert_ids(
        self, spark, tmp_path
    ):
        for mode in ("rewrite", "dv"):
            lake = self._lake(spark, tmp_path, name=f"m_{mode}")
            lake.enable_row_tracking()
            before = self._ids(lake)
            src = spark.createDataFrame(
                [(3, "k3", 99.0), (7, "k7", 99.0), (50, "new", 1.0)],
                "id bigint, k string, v double")
            v = lake.merge(src, on="id", mode=mode)
            after = self._ids(lake)
            # matched rows keep their ids, version bumped
            for rid, (bid, ver) in before.items():
                assert rid in after
                assert after[rid][0] == bid
                assert after[rid][1] == (v if bid in (3, 7) else ver)
            ins = set(after) - set(before)
            assert len(ins) == 1 and after[next(iter(ins))][0] == 50
            assert min(ins) >= 10  # fresh range, never reused

    def test_overwrite_where_survivors_keep_ids(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "ow"), partition_by=())
        lake.append(spark.createDataFrame(
            [(i, "a" if i < 5 else "b", float(i)) for i in range(10)],
            "id bigint, g string, v double").coalesce(1))
        lake.enable_row_tracking()
        before = self._ids(lake)
        lake.overwrite_where(
            spark.createDataFrame([(100, "b", 0.0)],
                                  "id bigint, g string, v double"),
            "g = 'b'")
        after = self._ids(lake)
        survivors = {rid: bv for rid, bv in before.items() if bv[0] < 5}
        for rid, bv in survivors.items():
            assert after[rid][0] == bv[0]
        fresh = set(after) - set(survivors)
        assert len(fresh) == 1 and after[next(iter(fresh))][0] == 100

    def test_state_survives_checkpoint_vacuum_clone(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.enable_row_tracking()
        lake.delete_where("id = 0")
        before = self._ids(lake)
        lake._write_checkpoint(lake.version)
        lake.vacuum_log()
        assert self._ids(lake) == before
        lake.append(spark.createDataFrame(
            [(200, "c", 0.0)], "id bigint, k string, v double"))
        m = self._ids(lake)
        new = set(m) - set(before)
        assert len(new) == 1 and min(new) >= 10  # high water survived
        clone = lake.clone(str(tmp_path / "rtc"))
        cm = self._ids(clone)
        assert cm == m  # byte-identical ids
        clone.append(spark.createDataFrame(
            [(300, "d", 0.0)], "id bigint, k string, v double"))
        cm2 = self._ids(clone)
        assert set(cm2) - set(cm) and min(set(cm2) - set(cm)) >= max(m) + 1

    def test_restore_keeps_original_ids(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.enable_row_tracking()
        v0 = lake.version
        before = self._ids(lake)
        lake.delete_where("id < 5")  # rewrite drops files
        lake.restore(version=v0)
        after = self._ids(lake)
        assert {r: b[0] for r, b in after.items()} == {
            r: b[0] for r, b in before.items()}

    def test_time_travel_with_row_ids(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.enable_row_tracking()
        v_enable = lake.version
        before = self._ids(lake)
        lake.delete_where("id % 2 = 0")
        assert self._ids(lake, version=v_enable) == before
        with pytest.raises(ValueError, match="not enabled"):
            lake.snapshot(version=v_enable - 1, with_row_ids=True)

    def test_reserved_prefix_rejected(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        with pytest.raises(ValueError, match="reserved"):
            lake.append(spark.createDataFrame(
                [(1, "x", 0.0, 5)],
                "id bigint, k string, v double, _rt_row_id bigint"))

    def test_not_enabled_raises(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        with pytest.raises(ValueError, match="not enabled"):
            lake.snapshot(with_row_ids=True)
        assert lake.row_tracking() is None
        assert lake.detail()["row_tracking"] is None

    def test_normal_reads_never_leak_rt_columns(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.enable_row_tracking()
        lake.update_where("id = 1", {"v": "0.5"})  # materializes _rt_
        assert not [c for c in lake.snapshot().columns
                    if c.startswith("_rt_")]
        ch = lake.read_changes(starting_version=0)
        assert not [c for c in ch.columns if c.startswith("_rt_")]

    def test_column_mapping_interplay(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.enable_row_tracking()
        before = self._ids(lake)
        lake.rename_column("v", "val")
        snap = lake.snapshot(with_row_ids=True)
        assert "val" in snap.columns and "_row_id" in snap.columns
        assert self._ids(lake) == before

    def test_concurrent_appender_handles_get_disjoint_ranges(
        self, spark, tmp_path
    ):
        lake = self._lake(spark, tmp_path)
        lake.enable_row_tracking()
        other = TransactionalLake(
            spark, lake.path, partition_by=())
        lake.append(spark.createDataFrame(
            [(201, "a", 0.0)], "id bigint, k string, v double"))
        other.append(spark.createDataFrame(
            [(202, "b", 0.0)], "id bigint, k string, v double"))
        m = self._ids(lake)
        assert sorted(m) == list(range(12))  # no overlap, no gap


class TestMonotonicCommitTimestamps:
    """r10: in-commit timestamps are strictly increasing (Delta ICT
    semantics). Timestamp time-travel resolves by 'last commit with
    ts <= target' — a racing writer's skewed clock (or an NTP step
    backward) would otherwise make the fold skip real commits."""

    def test_backward_clock_is_clamped(self, spark, tmp_path, monkeypatch):
        import market_data_lakehouse_spark.txnlog as T

        lake = TransactionalLake(spark, str(tmp_path / "ict"),
                                 partition_by=())
        lake.append(spark.createDataFrame([(1,)], "id bigint"))
        t1 = lake._read_commit(lake.version)["timestamp"]
        real = T.time.time
        # second writer's clock is 1h behind
        monkeypatch.setattr(T.time, "time", lambda: real() - 3600.0)
        lake.append(spark.createDataFrame([(2,)], "id bigint"))
        monkeypatch.setattr(T.time, "time", real)
        t2 = lake._read_commit(lake.version)["timestamp"]
        assert t2 > t1  # clamped strictly after the predecessor
        # timestamp travel at t2 sees BOTH commits
        assert lake.snapshot(
            timestamp=t2).count() == 2

    def test_timestamps_strictly_increase_across_ops(
        self, spark, tmp_path
    ):
        lake = TransactionalLake(spark, str(tmp_path / "ict2"),
                                 partition_by=())
        lake.append(spark.createDataFrame([(i,) for i in range(4)],
                                          "id bigint").coalesce(1))
        lake.delete_where("id = 0")
        lake.update_where("id = 1", {"id": "10"})
        lake.optimize()
        ts = [lake._read_commit(v)["timestamp"]
              for v in range(lake.version + 1)]
        assert all(b > a for a, b in zip(ts, ts[1:]))


class TestCdcRowLineage:
    """r10: CDC with row lineage — read_changes(with_row_ids=True)
    carries each change row's stable _row_id, so an update's
    delete/insert pair shares one id and consumers can key
    incremental maintenance on identity."""

    def _lake(self, spark, tmp_path, name="cdl"):
        lake = TransactionalLake(
            spark, str(tmp_path / name), partition_by=())
        lake.append(spark.createDataFrame(
            [(i, float(i)) for i in range(8)],
            "id bigint, v double").repartition(2))
        lake.enable_row_tracking()
        return lake

    def test_update_pair_shares_row_id(self, spark, tmp_path):
        for mode in ("rewrite", "dv"):
            lake = self._lake(spark, tmp_path, name=f"u_{mode}")
            v0 = lake.version
            lake.update_where("id = 3", {"v": "99.0"}, mode=mode)
            ch = lake.read_changes(
                starting_version=v0 + 1, with_row_ids=True
            ).filter("id = 3").collect()
            dels = [r for r in ch if r["_change_type"] == "delete"]
            ins = [r for r in ch if r["_change_type"] == "insert"]
            assert len(dels) == 1 and len(ins) == 1, (mode, ch)
            assert dels[0]["_row_id"] == ins[0]["_row_id"], mode
            assert ins[0].v == 99.0

    def test_insert_ids_match_snapshot(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        ch = lake.read_changes(starting_version=0, with_row_ids=True)
        got = {r["_row_id"]: r.id for r in
               ch.filter("_change_type = 'insert'").collect()}
        snap = {r["_row_id"]: r.id for r in
                lake.snapshot(with_row_ids=True).collect()}
        assert got == snap

    def test_dv_delete_emits_ids(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        before = {r["_row_id"]: r.id for r in
                  lake.snapshot(with_row_ids=True).collect()}
        v0 = lake.version
        lake.delete_where("id >= 6", mode="dv")
        ch = lake.read_changes(
            starting_version=v0 + 1, with_row_ids=True).collect()
        assert {r["_row_id"] for r in ch} == {
            rid for rid, bid in before.items() if bid >= 6}

    def test_requires_tracking(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "nt"), partition_by=())
        lake.append(spark.createDataFrame([(1,)], "id bigint"))
        with pytest.raises(ValueError, match="enable_row_tracking"):
            lake.read_changes(with_row_ids=True)

    def test_restore_emissions_carry_ids(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        v0 = lake.version
        before = {r["_row_id"]: r.id for r in
                  lake.snapshot(with_row_ids=True).collect()}
        lake.delete_where("id < 4")
        v_del = lake.version
        lake.restore(version=v0)
        ch = lake.read_changes(
            starting_version=v_del + 1, with_row_ids=True
        ).collect()
        ins = {r["_row_id"]: r.id for r in ch
               if r["_change_type"] == "insert"}
        dels = {r["_row_id"]: r.id for r in ch
                if r["_change_type"] == "delete"}
        # CoW restore churns the survivor files (documented): every
        # churned delete re-inserts under the SAME id — the lineage
        # property that lets a consumer prove the churn is a no-op
        assert set(dels) <= set(ins)
        assert all(ins[rid] == bid for rid, bid in dels.items())
        # net effect: the restored state, ids intact
        assert ins == before


class TestConvertInPlace:
    """r10: CONVERT TO DELTA parity — adopt a plain parquet
    directory into a transactional table with one commit, zero
    bytes rewritten; partition layout detected from the hive
    directory names; stats/rows ride the convert commit so data
    skipping and metadata COUNT work from the first read."""

    def test_convert_flat_dir(self, spark, tmp_path):
        raw = str(tmp_path / "raw")
        spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "id bigint, v double"
        ).repartition(3).write.parquet(raw)
        files_before = sorted(
            os.path.join(dp, f)
            for dp, _d, fs in os.walk(raw)
            for f in fs
            if f.endswith(".parquet")
        )
        lake = TransactionalLake.convert(spark, raw)
        assert lake.version == 0
        assert lake.partition_by == ()
        # zero rewrite: the adopted inodes are the table
        assert sorted(
            os.path.join(lake.path, f)
            for f in lake._snapshot_state()[0]
        ) == files_before
        assert lake.snapshot().count() == 20
        # metadata-only COUNT works from the logged row counts
        assert lake.count_rows() == 20
        # the full surface applies to adopted files
        lake.delete_where("id < 5")
        assert lake.snapshot().count() == 15
        assert lake.snapshot(version=0).count() == 20

    def test_convert_partitioned_dir(self, spark, tmp_path):
        raw = str(tmp_path / "rawp")
        spark.createDataFrame(
            [(i, f"2024-06-{15 + i % 2:02d}", float(i)) for i in range(12)],
            "id bigint, date string, v double",
        ).write.partitionBy("date").parquet(raw)
        lake = TransactionalLake.convert(spark, raw)
        assert lake.partition_by == ("date",)
        got = lake.snapshot()
        assert got.count() == 12 and "date" in got.columns
        # partition pruning works on the adopted layout
        kept, total, _s = lake.prune_files(
            {"date": ("2024-06-16", "2024-06-16")}
        )
        assert 0 < len(kept) < total
        # appends land in the detected layout
        lake.append(spark.createDataFrame(
            [(100, "2024-06-17", 1.0)],
            "id bigint, date string, v double"))
        assert lake.snapshot().count() == 13

    def test_convert_refuses_existing_table_and_empty_dir(
        self, spark, tmp_path
    ):
        raw = str(tmp_path / "rawx")
        spark.createDataFrame([(1,)], "id bigint").write.parquet(raw)
        TransactionalLake.convert(spark, raw)
        with pytest.raises(ValueError, match="already a transactional"):
            TransactionalLake.convert(spark, raw)
        empty = tmp_path / "rawe"
        empty.mkdir()
        with pytest.raises(ValueError, match="no parquet files"):
            TransactionalLake.convert(spark, str(empty))


class TestVacuumDryRunAndHistoryMetrics:
    def test_vacuum_dry_run_lists_without_deleting(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "vdr"), partition_by=())
        lake.append(spark.createDataFrame(
            [(i,) for i in range(6)], "id bigint").coalesce(1))
        lake.delete_where("id < 3")  # rewrites -> orphans the old file
        would = lake.vacuum(retention_seconds=0.0, dry_run=True)
        assert isinstance(would, list) and len(would) >= 1
        for rel in would:  # nothing was deleted
            assert os.path.exists(os.path.join(lake.path, rel))
        assert lake.snapshot(version=0).count() == 6  # time travel intact
        lake.set_properties({"retentionDurationCheck.enabled": "false"})
        assert lake.vacuum(retention_seconds=0.0) == len(would)
        with pytest.raises(Exception):
            lake.snapshot(version=0).count()

    def test_history_operation_metrics(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "hm"), partition_by=())
        lake.append(spark.createDataFrame(
            [(i,) for i in range(10)], "id bigint").coalesce(1))
        lake.delete_where("id in (1, 2)", mode="dv")
        h = lake.history()
        assert h[0]["op"] == "delete_dv"
        assert h[0]["operation_metrics"]["num_position_deletes"] == 2
        assert h[1]["op"] == "append"
        m = h[1]["operation_metrics"]
        assert m["num_added_files"] == 1
        assert m["num_output_rows"] == 10
        assert m["num_removed_files"] == 0


class TestRowTrackingWidenInterplay:
    def test_ids_stable_across_widen_and_dml(self, spark, tmp_path):
        """Widened histories switch every read to an EXPLICIT parquet
        schema — the row-tracking read path must extend that struct
        with the _rt_ fields or materialized ids silently vanish."""
        lake = TransactionalLake(
            spark, str(tmp_path / "rtw"), partition_by=())
        lake.append(spark.createDataFrame(
            [(i, i * 10) for i in range(6)],
            "id bigint, v int").coalesce(1))
        lake.enable_row_tracking()
        before = {
            r["_row_id"]: r.id
            for r in lake.snapshot(with_row_ids=True).collect()
        }
        lake.widen_column_type("v", "bigint")
        lake.update_where("id = 2", {"v": str(2**40)})  # CoW rewrite
        lake.delete_where("id = 5", mode="dv")
        got = lake.snapshot(with_row_ids=True).collect()
        after = {r["_row_id"]: r.id for r in got}
        assert after == {
            rid: bid for rid, bid in before.items() if bid != 5}
        assert {r.v for r in got if r.id == 2} == {2**40}
        # dv update through the widened (explicit-schema) scan
        lake.update_where("id = 3", {"v": "v + 1"}, mode="dv")
        after2 = {
            r["_row_id"]: r.id
            for r in lake.snapshot(with_row_ids=True).collect()
        }
        assert after2 == after


class TestSchemaReset:
    """r11 ADVICE: schema-REPLACING commits (overwrite / restore /
    reorg_purge) restart the merged-schema history. Before the
    ``schema_reset`` flag, the union over the ENTIRE history
    resurrected columns a narrower overwrite dropped — the next CoW
    DML null-filled them back into rewritten files and snapshot()
    showed them again."""

    def _lake(self, spark, tmp_path, name="sr"):
        return TransactionalLake(
            spark, str(tmp_path / name), partition_by=())

    def test_overwrite_narrow_then_dml_does_not_resurrect(
        self, spark, tmp_path
    ):
        lake = self._lake(spark, tmp_path)
        lake.append(spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")],
            "k int, v string, extra string"))
        lake.overwrite(spark.createDataFrame(
            [(3, "c"), (4, "d")], "k int, v string"))
        lake.update_where("k = 4", {"v": "'D'"})  # CoW rewrite
        snap = lake.snapshot()
        assert snap.columns == ["k", "v"]
        # the rewritten FILES are clean too, not just the projection
        live = lake._snapshot_state()[0]
        cols = {
            c
            for f in live
            for c in spark.read.parquet(
                os.path.join(lake.path, f)).columns
        }
        assert "extra" not in cols
        # post-overwrite appends can re-evolve from scratch
        lake.append(
            spark.createDataFrame([(5, "e", 1)], "k int, v string, n int"),
            merge_schema=True,
        )
        assert lake.snapshot().columns == ["k", "v", "n"]

    def test_restore_to_prewiden_version_drops_evolved_column(
        self, spark, tmp_path
    ):
        lake = self._lake(spark, tmp_path)
        lake.append(spark.createDataFrame([(1, "a")], "k int, v string"))
        lake.append(
            spark.createDataFrame(
                [(2, "b", "z")], "k int, v string, extra string"),
            merge_schema=True,
        )
        lake.restore(version=0)
        assert lake.snapshot().columns == ["k", "v"]
        lake.update_where("k = 1", {"v": "'A'"})
        assert lake.snapshot().columns == ["k", "v"]

    def test_cdc_across_overwrite_reset_reads_old_files(
        self, spark, tmp_path
    ):
        """The overwrite commit's REMOVED files were written under
        the pre-reset history; their delete-emission must still read
        with it (evolved column included)."""
        lake = self._lake(spark, tmp_path)
        lake.append(spark.createDataFrame(
            [(1, "a", "x")], "k int, v string, extra string"))
        lake.overwrite(spark.createDataFrame([(3, "c")], "k int, v string"))
        ch = lake.read_changes(starting_version=0)
        dels = ch.filter("_change_type = 'delete'").collect()
        assert {(r.k, r.extra) for r in dels} == {(1, "x")}
        ins = ch.filter(
            "_change_type = 'insert' AND _commit_version = 1").collect()
        assert {(r.k, r.extra) for r in ins} == {(3, None)}

    def test_reorg_purge_resets_history(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.append(spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")],
            "k int, v string, extra string"))
        lake.rename_column("v", "val")
        lake.drop_column("extra")
        lake.reorg_purge()
        lake.update_where("k = 1", {"val": "'A'"})
        live = lake._snapshot_state()[0]
        cols = {
            c
            for f in live
            for c in spark.read.parquet(
                os.path.join(lake.path, f)).columns
        }
        assert "extra" not in cols
        assert sorted(lake.snapshot().columns) == ["k", "val"]

    def test_restore_keeps_widened_type_but_not_dropped_column(
        self, spark, tmp_path
    ):
        """The one-way door survives the reset: a restore across BOTH
        a widen and a column evolution keeps the wide type (post-widen
        files may physically carry it) while dropping the evolved
        column (pure metadata, safe to roll back)."""
        lake = self._lake(spark, tmp_path)
        lake.append(spark.createDataFrame([(1, 10)], "id bigint, v int"))
        v0 = lake.version
        lake.widen_column_type("v", "bigint")
        lake.append(
            spark.createDataFrame(
                [(2, 2 ** 40, "z")], "id bigint, v bigint, tag string"),
            merge_schema=True,
        )
        lake.restore(version=v0)
        snap = lake.snapshot()
        assert dict(snap.dtypes)["v"] == "bigint"
        assert snap.columns == ["id", "v"]
        assert [(r.id, r.v) for r in snap.collect()] == [(1, 10)]


class TestMapExprRenameChains:
    """r11 ADVICE: _map_expr must translate identifiers in ONE pass —
    iterated substitution corrupts rename chains and swaps."""

    def _swapped(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "sw"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, 10), (5, 1)], "a int, b int"))
        lake.rename_column("a", "tmp")
        lake.rename_column("b", "a")
        lake.rename_column("tmp", "b")
        return lake

    def test_swap_translates_each_identifier_once(self, spark, tmp_path):
        lake = self._swapped(spark, tmp_path)
        assert lake._map_expr("a > 1 AND b < 2") == "b > 1 AND a < 2"
        assert lake._map_expr("`a` = 3 OR 'a b' = c") == "b = 3 OR 'a b' = c"

    def test_swap_dml_modifies_correct_rows(self, spark, tmp_path):
        lake = self._swapped(spark, tmp_path)
        # logical a == physical b (values 10, 1)
        lake.delete_where("a > 5", mode="rewrite")
        snap = lake.snapshot()
        rows = [
            tuple(r.asDict()[c] for c in sorted(snap.columns))
            for r in snap.collect()
        ]
        assert rows == [(1, 5)]  # (a, b) = (old b=1, old a=5)

    def test_chain_longer_names_first(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "ch"), partition_by=())
        lake.append(spark.createDataFrame([(1, 2)], "x int, xx int"))
        lake.rename_column("x", "xx2")
        lake.rename_column("xx", "x")
        # logical xx2 -> physical x; logical x -> physical xx
        assert lake._map_expr("xx2 = 1 AND x = 2") == "x = 1 AND xx = 2"


class TestConvertRace:
    def test_concurrent_convert_commits_once(self, spark, tmp_path):
        """r11 ADVICE: the convert commit may only land as v0 — a
        losing racer must fail, not retry at v1 and double the rows."""
        import threading

        pdir = str(tmp_path / "plain")
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"
        ).write.parquet(pdir)
        errs: list[Exception] = []

        def convert():
            try:
                TransactionalLake.convert(spark, pdir, partition_by=())
            except (RuntimeError, ValueError) as e:
                errs.append(e)

        ts = [threading.Thread(target=convert) for _ in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        lake = TransactionalLake(spark, pdir, partition_by=())
        assert lake.version == 0
        assert lake.snapshot().count() == 2


class TestReservedRtRejectionEverywhere:
    """Pin: every write surface rejects user columns carrying the
    reserved '_rt_' prefix (forged materialized row ids would
    collide with real ones)."""

    def test_merge_source_rejected(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "rj"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"))
        lake.enable_row_tracking()
        src = spark.createDataFrame(
            [(1, "A", 999)], "k int, v string, _rt_row_id long")
        for mode in ("rewrite", "dv"):
            with pytest.raises(ValueError, match="_rt_"):
                lake.merge(src, on="k", mode=mode)

    def test_overwrite_where_rejected(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "rj2"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"))
        src = spark.createDataFrame(
            [(1, "A", 9)], "k int, v string, _rt_row_id long")
        with pytest.raises(ValueError, match="_rt_"):
            lake.overwrite_where(src, "k = 1")


class TestZorderRowTrackingMappingInterplay:
    """r11 (VERDICT r10 #5): Z-order-SCOPED optimize on a table that
    is BOTH row-tracked and column-mapped — compaction must preserve
    every id (the _rt_ materialization path) AND tighten per-file
    stats ranges (the clustering), with the zorder/scope names given
    LOGICALLY. optimize(zorder_by=logical) raised unresolved-column
    on mapped tables before r11."""

    def _lake(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "zrm"), partition_by=())
        for i in range(4):
            lake.append(
                spark.range(i * 1000, (i + 1) * 1000).select(
                    F.col("id").alias("k"),
                    (F.col("id") % 97).cast("double").alias("v"),
                )
            )
        lake.enable_row_tracking()
        lake.rename_column("v", "price")
        return lake

    def test_scoped_zorder_preserves_ids_and_tightens_stats(
        self, spark, tmp_path
    ):
        lake = self._lake(spark, tmp_path)
        lake.delete_where("k % 10 = 3", mode="dv")  # vectors to fold
        before = {
            r["_row_id"]: (r.k, r.price)
            for r in lake.snapshot(with_row_ids=True).collect()
        }
        pre_files = set(lake._snapshot_state()[0])
        v = lake.optimize(
            zorder_by=("price",),
            where={"k": (0, 1999)},
            files_per_partition=2,
        )
        assert v == lake.version
        after = {
            r["_row_id"]: (r.k, r.price)
            for r in lake.snapshot(with_row_ids=True).collect()
        }
        assert after == before  # every id survives, rows unchanged
        # scope: only files overlapping k<=1999 were rewritten
        commit = lake._read_commit(v)
        assert commit["op"] == "compact"
        assert set(commit["remove"]) < pre_files
        # clustering: the rewritten files' physical 'v' stats ranges
        # are tighter than one unclustered file's full span
        stats = commit["stats"]
        spans = [
            stats[f]["v"][1] - stats[f]["v"][0]
            for f in commit["add"]
            if stats.get(f, {}).get("v")
        ]
        assert spans, "zorder column stats missing from compact commit"
        full_span = 96.0  # id % 97 over 2000 rows spans 0..96
        assert min(spans) < full_span / 2, spans
        # dvs inside the scope materialized away
        dvs = lake._snapshot_state()[3]
        assert not any(f in commit["add"] for f in dvs)

    def test_unscoped_zorder_logical_name_on_mapped_table(
        self, spark, tmp_path
    ):
        lake = self._lake(spark, tmp_path)
        before = dict(
            (r["_row_id"], r.k)
            for r in lake.snapshot(with_row_ids=True).collect()
        )
        lake.optimize(zorder_by=("price",), files_per_partition=2)
        after = dict(
            (r["_row_id"], r.k)
            for r in lake.snapshot(with_row_ids=True).collect()
        )
        assert after == before


class TestLiquidClustering:
    """r11: LIQUID CLUSTERING (Delta CLUSTER BY parity) — a declared
    clustering key + INCREMENTAL maintenance: optimize_clustering()
    rewrites only files not already written by a clustering rewrite,
    so steady-state cost tracks the ingest rate, not table size."""

    def _lake(self, spark, tmp_path, name="lc"):
        lake = TransactionalLake(
            spark, str(tmp_path / name), partition_by=())
        for i in range(3):
            lake.append(
                spark.range(i * 1000, (i + 1) * 1000).select(
                    F.col("id").alias("k"),
                    (F.col("id") % 97).cast("double").alias("v"),
                ).coalesce(2)
            )
        return lake

    def test_requires_schema_and_known_columns(self, spark, tmp_path):
        empty = TransactionalLake(
            spark, str(tmp_path / "e"), partition_by=())
        with pytest.raises(ValueError, match="committed schema"):
            empty.set_clustering(("v",))
        lake = self._lake(spark, tmp_path)
        with pytest.raises(ValueError, match="unknown clustering"):
            lake.set_clustering(("nope",))
        with pytest.raises(ValueError, match="no clustering key"):
            lake.optimize_clustering()

    def test_incremental_rewrites_only_new_files(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.set_clustering("v")
        info = lake.clustering_info()
        assert info["cluster_by"] == ["v"]
        assert info["clustered_files"] == 0
        lake.optimize_clustering(files_per_partition=3)
        assert lake.clustering_info()["unclustered_files"] == 0
        clustered_before = lake.clustering_info()["clustered_files"]
        lake.append(
            spark.range(3000, 4000).select(
                F.col("id").alias("k"),
                (F.col("id") % 97).cast("double").alias("v"),
            ).coalesce(2)
        )
        live = set(lake._snapshot_state()[0])
        v = lake.optimize_clustering(files_per_partition=2)
        c = lake._read_commit(v)
        # only the 2 fresh files rewrote; clustered survivors untouched
        assert len(c["remove"]) == len(live) - clustered_before
        assert c["op"] == "cluster" and c["clustered_add"] is True
        assert lake.snapshot().count() == 4000

    def test_ids_and_dv_visibility_survive(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.enable_row_tracking()
        lake.delete_where("k % 10 = 7", mode="dv")
        before = {
            r["_row_id"]: r.k
            for r in lake.snapshot(with_row_ids=True).collect()
        }
        lake.set_clustering("v")
        lake.optimize_clustering()
        after = {
            r["_row_id"]: r.k
            for r in lake.snapshot(with_row_ids=True).collect()
        }
        assert after == before

    def test_key_change_resets_clustered_set(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.set_clustering("v")
        lake.optimize_clustering()
        assert lake.clustering_info()["unclustered_files"] == 0
        lake.set_clustering("k")
        info = lake.clustering_info()
        assert info["cluster_by"] == ["k"]
        assert info["clustered_files"] == 0  # old layout invalid
        lake.optimize_clustering()
        assert lake.clustering_info()["unclustered_files"] == 0

    def test_unset_clears_feature(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.set_clustering(("v",))
        lake.set_clustering(())
        assert lake.clustering_info() is None
        with pytest.raises(ValueError, match="no clustering key"):
            lake.optimize_clustering()

    def test_logical_names_through_rename(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.rename_column("v", "price")
        lake.set_clustering(("price",))
        assert lake.clustering_info()["cluster_by"] == ["price"]
        lake.optimize_clustering(files_per_partition=2)
        assert lake.clustering_info()["unclustered_files"] == 0
        # a further rename keeps the binding (physical under the hood)
        lake.rename_column("price", "px")
        assert lake.clustering_info()["cluster_by"] == ["px"]
        got = sorted(r.px for r in lake.snapshot().limit(3).collect())
        assert len(got) == 3

    def test_range_layout_tightens_per_file_stats(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        pre_kept, _t, _s = lake.prune_files({"v": (10.0, 20.0)})
        pre_live = len(lake._snapshot_state()[0])
        lake.set_clustering("v")
        lake.optimize_clustering(files_per_partition=6)
        kept, _total, _sch = lake.prune_files({"v": (10.0, 20.0)})
        live = len(lake._snapshot_state()[0])
        # before clustering every file spans v's full range
        assert len(pre_kept) == pre_live
        assert len(kept) < live  # clustered files skip

    def test_survives_checkpoint_vacuum_clone(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.set_clustering("v")
        lake.optimize_clustering()
        for i in range(25):  # cross a checkpoint boundary
            lake.set_properties({"tick": str(i)})
        lake.vacuum_log()
        info = lake.clustering_info()
        assert info["cluster_by"] == ["v"]
        assert info["unclustered_files"] == 0
        clone = lake.clone(str(tmp_path / "lc_clone"))
        cinfo = clone.clustering_info()
        assert cinfo["cluster_by"] == ["v"]
        assert cinfo["unclustered_files"] == 0

    def test_restore_rolls_clustering_back(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        v0 = lake.version
        lake.set_clustering("v")
        lake.optimize_clustering()
        lake.restore(version=v0)
        assert lake.clustering_info() is None
        # and forward again: restore to a clustered version
        lake2 = self._lake(spark, tmp_path, name="lc2")
        lake2.set_clustering("v")
        lake2.optimize_clustering()
        v_clustered = lake2.version
        lake2.set_clustering(())
        lake2.restore(version=v_clustered)
        info = lake2.clustering_info()
        assert info is not None and info["unclustered_files"] == 0

    def test_cluster_commit_is_cdc_silent(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.set_clustering("v")
        v_before = lake.version
        lake.optimize_clustering()
        ch = lake.read_changes(starting_version=v_before + 1)
        assert ch.count() == 0

    def test_detail_surfaces_clustering(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        assert lake.detail()["clustering"] is None
        lake.set_clustering("v")
        d = lake.detail()
        assert d["clustering"]["cluster_by"] == ["v"]


class TestColumnDefaults:
    """r11: column DEFAULT values (Delta ALTER COLUMN SET DEFAULT
    parity) — batches that OMIT a defaulted column write the default
    instead of NULL; existing rows are never backfilled."""

    def _lake(self, spark, tmp_path, name="cd"):
        lake = TransactionalLake(
            spark, str(tmp_path / name), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, "a", "us")], "k int, v string, region string"))
        return lake

    def test_append_omitting_column_gets_default(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.set_column_default("region", "'eu'")
        lake.append(spark.createDataFrame([(2, "b")], "k int, v string"))
        got = {r.k: r.region for r in lake.snapshot().collect()}
        assert got == {1: "us", 2: "eu"}

    def test_no_backfill_of_existing_rows(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "nb"), partition_by=())
        lake.append(spark.createDataFrame([(1, "a")], "k int, v string"))
        lake.append(
            spark.createDataFrame(
                [(2, "b", "us")], "k int, v string, region string"),
            merge_schema=True,
        )
        lake.set_column_default("region", "'eu'")
        got = {r.k: r.region for r in lake.snapshot().collect()}
        assert got == {1: None, 2: "us"}  # pre-default rows stay NULL

    def test_drop_default_restores_null(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.set_column_default("region", "'eu'")
        lake.drop_column_default("region")
        lake.append(spark.createDataFrame([(3, "c")], "k int, v string"))
        got = {r.k: r.region for r in lake.snapshot().collect()}
        assert got[3] is None

    def test_expression_defaults_cast_to_committed_type(
        self, spark, tmp_path
    ):
        lake = TransactionalLake(
            spark, str(tmp_path / "ex"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, 5)], "k int, score int"))
        lake.set_column_default("score", "2 + 3 * 10")
        lake.append(spark.createDataFrame([(2,)], "k int"))
        snap = lake.snapshot()
        assert dict(snap.dtypes)["score"] == "int"
        assert {r.k: r.score for r in snap.collect()} == {1: 5, 2: 32}

    def test_validation_rejects_column_refs_and_unknowns(
        self, spark, tmp_path
    ):
        lake = self._lake(spark, tmp_path)
        with pytest.raises(ValueError, match="row-independent"):
            lake.set_column_default("region", "upper(v)")
        with pytest.raises(ValueError, match="unknown column"):
            lake.set_column_default("nope", "'x'")
        lake2 = TransactionalLake(
            spark, str(tmp_path / "cdi"), partition_by=())
        lake2.set_identity("rid")
        lake2.append(spark.createDataFrame([(1,)], "k int"))
        with pytest.raises(ValueError, match="IDENTITY"):
            lake2.set_column_default("rid", "7")

    def test_rename_keeps_binding_and_merge_applies(
        self, spark, tmp_path
    ):
        lake = self._lake(spark, tmp_path)
        lake.set_column_default("region", "'eu'")
        lake.rename_column("region", "zone")
        # binding is physical: the default survives the rename
        lake.append(spark.createDataFrame([(2, "b")], "k int, v string"))
        assert {
            r.k: r.zone for r in lake.snapshot().collect()
        } == {1: "us", 2: "eu"}
        # merge insert path: source omits the defaulted column
        lake.merge(
            spark.createDataFrame([(3, "c")], "k int, v string"),
            on="k",
        )
        assert {
            r.k: r.zone for r in lake.snapshot().collect()
        }[3] == "eu"
        assert lake.detail()["column_defaults"] == {"zone": "'eu'"}

    def test_survives_checkpoint_vacuum_clone(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        lake.set_column_default("region", "'eu'")
        for i in range(25):
            lake.set_properties({"tick": str(i)})
        lake.vacuum_log()
        assert lake.column_defaults() == {"region": "'eu'"}
        clone = lake.clone(str(tmp_path / "cd_clone"))
        clone.append(
            spark.createDataFrame([(9, "z")], "k int, v string"))
        assert {
            r.k: r.region for r in clone.snapshot().collect()
        }[9] == "eu"


class TestAutoCompaction:
    """r11: auto-compaction (Delta delta.autoOptimize.autoCompact
    parity) — past a small-file threshold, writes self-heal the
    small-files pathology inline."""

    def test_small_file_debt_self_heals(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "ac"), partition_by=())
        lake.append(spark.createDataFrame([(0, 0.0)], "k int, v double"))
        lake.set_properties({
            "autoCompact.enabled": "true",
            "autoCompact.minNumFiles": "6",
        })
        for i in range(1, 12):
            v = lake.append(
                spark.createDataFrame([(i, float(i))], "k int, v double")
            )
            # append returns ITS version even when compaction follows
            assert lake._read_commit(v)["op"] == "append"
        n_files = len(lake._snapshot_state()[0])
        assert n_files < 6, n_files
        assert any(
            c["operation_metrics"]["num_removed_files"] > 0
            and c["op"] == "compact"
            for c in lake.history()
        )
        assert lake.snapshot().count() == 12
        assert sorted(r.k for r in lake.snapshot().collect()) == list(
            range(12))

    def test_disabled_debt_accumulates(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "acd"), partition_by=())
        for i in range(8):
            lake.append(
                spark.createDataFrame([(i, float(i))], "k int, v double")
            )
        assert len(lake._snapshot_state()[0]) == 8
        assert not any(c["op"] == "compact" for c in lake.history())

    def test_clustered_table_autocompacts_into_layout(
        self, spark, tmp_path
    ):
        lake = TransactionalLake(
            spark, str(tmp_path / "acl"), partition_by=())
        lake.append(
            spark.range(100).select(
                F.col("id").alias("k"),
                (F.col("id") % 13).cast("double").alias("v"),
            ).coalesce(1)
        )
        lake.set_clustering("v")
        lake.set_properties({
            "autoCompact.enabled": "true",
            "autoCompact.minNumFiles": "4",
        })
        for i in range(6):
            lake.append(
                spark.createDataFrame(
                    [(1000 + i, float(i))], "k int, v double")
            )
        info = lake.clustering_info()
        # maintenance ran as incremental clustering, not plain compact
        assert info["unclustered_files"] <= 4
        assert any(c["op"] == "cluster" for c in lake.history())
        assert lake.snapshot().count() == 106


class TestLogOwnedGeneratedColumns:
    """r11: generated columns are LOG-OWNED like the partition
    layout — a writer that reopens the table without (or with a
    different) ctor arg adopts the recorded expressions, so every
    writer derives the same columns by construction."""

    def test_reopener_without_ctor_arg_still_derives(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "g")
        lake = TransactionalLake(
            spark, path, partition_by=("date",),
            generated_columns={"date": "to_date(ts)"},
        )
        lake.append(spark.createDataFrame(
            [(1, "2024-06-15 10:00:00")], "k int, ts string"
        ).withColumn("ts", F.to_timestamp("ts")))
        # a second writer process: no generated_columns passed
        writer2 = TransactionalLake(spark, path, partition_by=None)
        assert writer2.generated_columns == {"date": "to_date(ts)"}
        writer2.append(spark.createDataFrame(
            [(2, "2024-06-16 11:00:00")], "k int, ts string"
        ).withColumn("ts", F.to_timestamp("ts")))
        got = {r.k: str(r.date) for r in writer2.snapshot().collect()}
        assert got == {1: "2024-06-15", 2: "2024-06-16"}

    def test_recorded_wins_over_divergent_ctor(self, spark, tmp_path):
        path = str(tmp_path / "g2")
        lake = TransactionalLake(
            spark, path, partition_by=(),
            generated_columns={"flag": "1"},
        )
        lake.append(spark.createDataFrame([(1,)], "k int"))
        other = TransactionalLake(
            spark, path, partition_by=(),
            generated_columns={"flag": "2"},  # divergent: log wins
        )
        assert other.generated_columns == {"flag": "1"}

    def test_survives_vacuum_log_via_checkpoint(self, spark, tmp_path):
        path = str(tmp_path / "g3")
        lake = TransactionalLake(
            spark, path, partition_by=(),
            generated_columns={"flag": "7"},
        )
        lake.append(spark.createDataFrame([(1,)], "k int"))
        for i in range(25):
            lake.set_properties({"tick": str(i)})
        lake.vacuum_log()
        reopened = TransactionalLake(spark, path, partition_by=())
        assert reopened.generated_columns == {"flag": "7"}


class TestAnalyzeTableStats:
    """r11: ANALYZE TABLE — one pass computes table-level column
    stats (approx NDV, nulls, min/max) into a metadata commit; the
    CBO-input surface, distinct from the per-file skipping stats."""

    def test_analyze_and_read_back(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "an"), partition_by=())
        lake.append(spark.createDataFrame(
            [(i, f"s{i % 3}", float(i) if i % 5 else None)
             for i in range(100)],
            "k long, sym string, v double"))
        v = lake.analyze()
        st = lake.table_stats()
        assert st["version_analyzed"] == v - 1
        assert st["rows"] == 100
        c = st["columns"]
        assert c["k"]["nulls"] == 0 and c["v"]["nulls"] == 20
        assert c["k"]["min"] == 0 and c["k"]["max"] == 99
        assert abs(c["sym"]["ndv"] - 3) <= 1
        assert 90 <= c["k"]["ndv"] <= 110  # HLL approximation
        with pytest.raises(ValueError, match="unknown columns"):
            lake.analyze(columns=["nope"])

    def test_staleness_and_rename_projection(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "an2"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, 2.0)], "k long, v double"))
        lake.analyze()
        analyzed_at = lake.table_stats()["version_analyzed"]
        lake.append(spark.createDataFrame(
            [(2, 3.0)], "k long, v double"))
        # stats are a snapshot: version_analyzed exposes staleness
        assert lake.table_stats()["version_analyzed"] == analyzed_at
        lake.rename_column("v", "price")
        assert "price" in lake.table_stats()["columns"]
        lake.drop_column("price")
        assert "price" not in lake.table_stats()["columns"]

    def test_survives_checkpoint_vacuum(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "an3"), partition_by=())
        lake.append(spark.createDataFrame([(1,)], "k long"))
        lake.analyze()
        for i in range(25):
            lake.set_properties({"tick": str(i)})
        lake.vacuum_log()
        assert lake.table_stats()["rows"] == 1


class TestTableFeatures:
    """r11: Delta table-features parity — commits record the
    cumulative feature set; a build that lacks one refuses the
    table instead of silently corrupting results."""

    def test_features_accumulate(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "tf"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"))
        assert lake.table_features() == []
        lake.delete_where("k = 1", mode="dv")
        lake.enable_row_tracking()
        lake.rename_column("v", "val")
        lake.set_clustering("k")
        lake.set_column_default("val", "'x'")
        lake.add_check_constraint("kpos", "k > 0")
        got = set(lake.table_features())
        assert {
            "deletion-vectors", "row-tracking", "column-mapping",
            "clustering", "column-defaults", "check-constraints",
        } <= got
        # features never retract (cumulative contract)
        lake.append(spark.createDataFrame([(9, "z")], "k int, v string")
                    .withColumnRenamed("v", "val"))
        assert set(lake.table_features()) >= got
        assert set(lake.detail()["table_features"]) == set(
            lake.table_features())

    def test_clone_inherits_features(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "tfc"), partition_by=())
        lake.append(spark.createDataFrame([(1, "a")], "k int, v string"))
        lake.enable_row_tracking()
        lake.delete_where("k = 0", mode="dv")  # no-op rows, real flag
        clone = lake.clone(str(tmp_path / "tfc2"))
        assert "row-tracking" in clone.table_features()

    def test_unknown_feature_locks_out(self, spark, tmp_path):
        import json as _json
        import os as _os

        path = str(tmp_path / "tfu")
        lake = TransactionalLake(spark, path, partition_by=())
        lake.append(spark.createDataFrame([(1,)], "k int"))
        # a newer engine wrote a feature this build doesn't know
        head = _os.path.join(lake.log_path, "00000000.json")
        c = _json.load(open(head))
        c["features"] = ["quantum-dedup-v9"]
        _json.dump(c, open(head, "w"))
        with pytest.raises(RuntimeError, match="quantum-dedup-v9"):
            TransactionalLake(spark, path, partition_by=())

    def test_survives_vacuum_log(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "tfv"), partition_by=())
        lake.append(spark.createDataFrame([(1,), (2,)], "k int"))
        lake.delete_where("k = 1", mode="dv")
        for i in range(25):
            lake.set_properties({"tick": str(i)})
        lake.vacuum_log()
        assert "deletion-vectors" in lake.table_features()


class TestCommitChecksum:
    """r11: per-commit checksum sidecars (Delta version-checksum /
    .crc parity): every commit leaves {version}.crc with the table's
    aggregate state (files, rows, bytes, dv accounting, live-set
    hash); verify_checksum() recomputes from the log and raises on
    any drift — corruption is detectable, not silent."""

    def _mk(self, spark, path, n=50):
        lake = TransactionalLake(spark, path, partition_by=())
        lake.append(spark.createDataFrame(
            [(i, f"s{i % 5}", float(i)) for i in range(n)],
            "k long, sym string, v double"))
        return lake

    def test_written_per_commit_and_verifies(self, spark, tmp_path):
        lake = self._mk(spark, str(tmp_path / "crc"))
        lake.append(spark.createDataFrame(
            [(100, "x", 1.0)], "k long, sym string, v double"))
        lake.delete_where("k >= 45 AND k < 50")  # CoW rewrite
        for v in range(lake.version + 1):
            assert os.path.exists(
                os.path.join(lake.log_path, f"{v:08d}.crc"))
            crc = lake.verify_checksum(v)  # every version verifies
            assert crc["total_rows"] == lake.count_rows(version=v)
        head = lake.verify_checksum()
        live, _s, _v, _dv = lake._snapshot_state()
        assert head["num_files"] == len(live)
        assert head["total_bytes"] == sum(
            os.path.getsize(os.path.join(lake.path, f)) for f in live)

    def test_incremental_append_equals_full_fold(self, spark, tmp_path):
        lake = self._mk(spark, str(tmp_path / "crci"))
        lake.append(spark.createDataFrame(
            [(200, "y", 2.0)], "k long, sym string, v double"))
        stored = lake._read_crc(lake.version)  # incremental path
        assert stored.pop("mode") == "inc"
        assert stored == lake._crc_full(lake.version)

    def test_dv_accounting(self, spark, tmp_path):
        lake = self._mk(spark, str(tmp_path / "crcd"))
        lake.delete_where("k % 10 = 0", mode="dv")
        crc = lake.verify_checksum()
        assert crc["dv_deleted_rows"] == 5
        assert crc["num_dv_files"] >= 1
        # total_rows stays the PHYSICAL count; logical = count_rows
        assert crc["total_rows"] == 50
        assert lake.count_rows() == 45
        lake.optimize()  # materializes survivors, clears vectors
        crc = lake.verify_checksum()
        assert crc["dv_deleted_rows"] == 0 and crc["num_dv_files"] == 0
        assert crc["total_rows"] == 45

    def test_detects_doctored_commit(self, spark, tmp_path):
        import json as _json

        lake = self._mk(spark, str(tmp_path / "crct"))
        v = lake.append(spark.createDataFrame(
            [(300, "z", 3.0), (301, "z", 3.5)],
            "k long, sym string, v double"))
        head = os.path.join(lake.log_path, f"{v:08d}.json")
        c = _json.load(open(head))
        doctored = dict(c)
        # silently drop one added file from the log — rows vanish
        doctored["add"] = c["add"][:-1]
        _json.dump(doctored, open(head, "w"))
        try:
            with pytest.raises(RuntimeError, match="checksum mismatch"):
                lake.verify_checksum(v)
        finally:
            _json.dump(c, open(head, "w"))
        lake.verify_checksum(v)  # restored log verifies again

    def test_detects_rowcount_drift(self, spark, tmp_path):
        import json as _json

        lake = self._mk(spark, str(tmp_path / "crcr"))
        head = os.path.join(lake.log_path, "00000000.json")
        c = _json.load(open(head))
        doctored = _json.loads(_json.dumps(c))
        f0 = c["add"][0]
        doctored["rows"][f0] = c["rows"][f0] + 7
        _json.dump(doctored, open(head, "w"))
        try:
            with pytest.raises(RuntimeError, match="checksum mismatch"):
                lake.verify_checksum(0)
        finally:
            _json.dump(c, open(head, "w"))

    def test_self_heals_missing_sidecar(self, spark, tmp_path):
        lake = self._mk(spark, str(tmp_path / "crch"))
        os.unlink(os.path.join(lake.log_path, "00000000.crc"))
        lake.append(spark.createDataFrame(
            [(400, "w", 4.0)], "k long, sym string, v double"))
        lake.verify_checksum()  # full fold healed the gap
        with pytest.raises(ValueError, match="no checksum"):
            lake.verify_checksum(0)

    def test_vacuum_drops_old_sidecars(self, spark, tmp_path):
        lake = self._mk(spark, str(tmp_path / "crcv"), n=10)
        for i in range(25):  # cross a checkpoint interval
            lake.set_properties({"tick": str(i)})
        lake.vacuum_log()
        crcs = sorted(
            f for f in os.listdir(lake.log_path) if f.endswith(".crc"))
        assert crcs, "head-side sidecars must survive"
        assert int(crcs[0].split(".")[0]) >= 19  # pre-boundary gone
        lake.verify_checksum()

    def test_clone_restore_and_metadata_commits(self, spark, tmp_path):
        lake = self._mk(spark, str(tmp_path / "crcc"))
        lake.set_properties({"owner": "t"})  # metadata-only commit
        v_before = lake.version
        lake.delete_where("k < 10")
        lake.restore(v_before)
        lake.verify_checksum()
        clone = lake.clone(str(tmp_path / "crcc2"))
        got = clone.verify_checksum()
        assert got["total_rows"] == lake.count_rows()


    def test_count_rows_crc_fast_path(self, spark, tmp_path):
        import json as _json

        lake = self._mk(spark, str(tmp_path / "crcq"))
        lake.delete_where("k % 10 = 0", mode="dv")
        head = lake.version
        crc_path = os.path.join(lake.log_path, f"{head:08d}.crc")
        assert lake.count_rows() == 45
        # prove the head count is served FROM the sidecar
        c = _json.load(open(crc_path))
        assert c["rows_exact"] is True
        doctored = {**c, "total_rows": 999 + c["dv_deleted_rows"]}
        _json.dump(doctored, open(crc_path, "w"))
        assert lake.count_rows() == 999
        # no sidecar -> the fold answers (and time travel always folds)
        os.unlink(crc_path)
        assert lake.count_rows() == 45
        assert lake.count_rows(version=0) == 50
        # an inexact sidecar must NOT be served
        _json.dump({**c, "rows_exact": False, "total_rows": 0},
                   open(crc_path, "w"))
        assert lake.count_rows() == 45
        _json.dump(c, open(crc_path, "w"))
        lake.verify_checksum()


class TestSymlinkManifest:
    """r11: GENERATE symlink_format_manifest parity — a text-file
    listing of the snapshot for log-unaware external engines, with
    Delta's compatibility guards (no deletion vectors, no column
    mapping) and auto-regeneration via table property."""

    def _paths_on_disk(self, lake):
        return lake.manifest_paths()

    def test_generate_and_external_read(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "mf"), partition_by=())
        lake.append(spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k long, v double"))
        lake.append(spark.createDataFrame(
            [(100, 1.0)], "k long, v double"))
        lake.generate_manifest()
        paths = lake.manifest_paths()
        live, _s, _v, _dv = lake._snapshot_state()
        assert sorted(paths) == sorted(
            os.path.abspath(os.path.join(lake.path, f)) for f in live)
        # a log-unaware engine reads exactly the snapshot
        ext = spark.read.parquet(*paths)
        assert ext.count() == lake.snapshot().count() == 101
        # regeneration reflects a CoW delete
        lake.delete_where("k < 50")
        lake.generate_manifest()
        ext = spark.read.parquet(*lake.manifest_paths())
        assert ext.count() == 51

    def test_partitioned_layout_and_pruning(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "mfp"), partition_by=("date",))
        lake.append(_df(spark, [("AAPL", 150)], date="2024-06-15"))
        lake.append(_df(spark, [("MSFT", 300)], date="2024-06-16"))
        root = lake.generate_manifest()
        assert os.path.exists(os.path.join(
            root, "date=2024-06-15", "manifest"))
        assert os.path.exists(os.path.join(
            root, "date=2024-06-16", "manifest"))
        ext = spark.read.option("basePath", lake.path).parquet(
            *lake.manifest_paths())
        assert ext.count() == 2
        # partition leaves the table -> its manifest is pruned
        lake.delete_where("date = '2024-06-15'")
        lake.generate_manifest()
        assert not os.path.exists(os.path.join(
            root, "date=2024-06-15", "manifest"))
        assert len(lake.manifest_paths()) >= 1

    def test_dv_and_mapping_guards(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "mfg"), partition_by=())
        lake.append(spark.createDataFrame(
            [(i,) for i in range(10)], "k long"))
        lake.delete_where("k = 3", mode="dv")
        with pytest.raises(ValueError, match="deletion vectors"):
            lake.generate_manifest()
        lake.optimize()  # CoW rewrite clears the vectors
        lake.generate_manifest()
        lake.rename_column("k", "key")
        with pytest.raises(ValueError, match="column mapping"):
            lake.generate_manifest()

    def test_auto_regeneration_property(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "mfa"), partition_by=())
        lake.set_properties(
            {"compatibility.symlinkFormatManifest.enabled": "true"})
        lake.append(spark.createDataFrame([(1,)], "k long"))
        assert len(lake.manifest_paths()) == 1  # hook ran, no call
        lake.append(spark.createDataFrame([(2,)], "k long"))
        assert len(lake.manifest_paths()) == 2
        # the incompatible combination fails the WRITE, not the reader
        with pytest.raises(ValueError, match="incompatible"):
            lake.delete_where("k = 1", mode="dv")
        lake.delete_where("k = 1")  # CoW stays allowed
        ext = spark.read.parquet(*lake.manifest_paths())
        assert ext.count() == 1

    def test_vacuum_spares_manifests(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "mfv"), partition_by=())
        lake.append(spark.createDataFrame([(1,)], "k long"))
        lake.generate_manifest()
        lake.set_properties(
            {"retentionDurationCheck.enabled": "false"})
        lake.overwrite(spark.createDataFrame([(2,)], "k long"))
        lake.vacuum(retention_seconds=0.0)
        # manifest tree untouched by data vacuum (it only reclaims
        # parquet); regeneration refreshes the listing
        assert len(lake.manifest_paths()) == 1
        lake.generate_manifest()
        ext = spark.read.parquet(*lake.manifest_paths())
        assert ext.collect()[0][0] == 2


class TestMergeSchemaEvolution:
    """r11: MERGE with schema evolution (Delta withSchemaEvolution /
    schema.autoMerge parity): source columns the target lacks evolve
    the table in the merge commit — postimages and inserts carry
    them, everything else null-fills on read. Off by default."""

    def _target(self, spark, path):
        lake = TransactionalLake(spark, path, partition_by=())
        lake.append(spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
        return lake

    def test_rejected_without_flag(self, spark, tmp_path):
        lake = self._target(spark, str(tmp_path / "mse0"))
        src = spark.createDataFrame(
            [(2, "B", 9.9)], "k long, v string, score double")
        with pytest.raises(ValueError, match="new columns"):
            lake.merge(src, on="k")

    @pytest.mark.parametrize("mode", ["rewrite", "dv"])
    def test_evolves_updates_and_inserts(self, spark, tmp_path, mode):
        lake = self._target(spark, str(tmp_path / f"mse_{mode}"))
        v_before = lake.version
        src = spark.createDataFrame(
            [(2, "B", 9.9), (4, "d", 4.4)],
            "k long, v string, score double")
        lake.merge(src, on="k", mode=mode, schema_evolution=True)
        got = {r.k: (r.v, r.score)
               for r in lake.snapshot().collect()}
        assert got == {
            1: ("a", None),   # untouched row null-fills
            2: ("B", 9.9),    # update postimage carries the new col
            3: ("c", None),   # survivor in a rewritten file
            4: ("d", 4.4),    # insert carries it
        }
        # time travel: the pre-merge schema has no evolved column
        assert "score" not in lake.snapshot(version=v_before).columns
        # the evolution is one-way: a later narrow append keeps it
        lake.append(spark.createDataFrame([(5, "e")], "k long, v string"))
        assert {r.k: r.score for r in lake.snapshot().collect()}[5] is None
        lake.verify_checksum()

    def test_dv_mode_touches_no_files(self, spark, tmp_path):
        lake = self._target(spark, str(tmp_path / "msedv"))
        live_before, *_ = lake._snapshot_state()
        src = spark.createDataFrame(
            [(2, "B", 1.5)], "k long, v string, score double")
        lake.merge(src, on="k", mode="dv", schema_evolution=True)
        c = lake._read_commit(lake.version)
        assert not c.get("remove"), "dv merge must not rewrite files"
        live_after, *_ = lake._snapshot_state()
        assert set(live_before) <= set(live_after)
        assert {r.score for r in lake.snapshot().filter("k = 2").collect()} \
            == {1.5}

    def test_new_key_column_rejected(self, spark, tmp_path):
        lake = self._target(spark, str(tmp_path / "msek"))
        src = spark.createDataFrame(
            [("x", 1.0)], "newkey string, score double")
        with pytest.raises(ValueError, match="never join keys"):
            lake.merge(src, on="newkey", schema_evolution=True)

    @pytest.mark.parametrize("mode", ["rewrite", "dv"])
    def test_evolution_under_column_mapping(self, spark, tmp_path, mode):
        """Found by a live probe: under an ACTIVE column map, the
        evolving merge must extend the logical->physical doc on its
        own commit — without that the new column's data is written
        but the logical projection silently hides it."""
        lake = self._target(spark, str(tmp_path / f"msemap_{mode}"))
        lake.rename_column("v", "val")  # activates mapping
        src = spark.createDataFrame(
            [(2, "B", 9.9), (4, "d", 4.4)],
            "k long, val string, score double")
        lake.merge(src, on="k", mode=mode, schema_evolution=True)
        snap = lake.snapshot()
        assert "score" in snap.columns
        got = {r.k: r.score for r in snap.collect()}
        assert got == {1: None, 2: 9.9, 3: None, 4: 4.4}
        doc = lake._column_mapping_doc()
        assert "score" in doc["cols"]
        # the evolved column renames like any other
        lake.rename_column("score", "conf")
        assert {r.k: r.conf for r in lake.snapshot().collect()}[2] == 9.9
        lake.verify_checksum()

    def test_cdc_carries_evolved_column(self, spark, tmp_path):
        """The change feed for an evolving merge projects the evolved
        schema: the merge commit's inserts/postimages carry the new
        column, pre-evolution change rows null-fill it."""
        lake = self._target(spark, str(tmp_path / "msecdc"))
        v_merge = lake.version + 1
        src = spark.createDataFrame(
            [(2, "B", 9.9), (4, "d", 4.4)],
            "k long, v string, score double")
        lake.merge(src, on="k", schema_evolution=True)
        feed = lake.read_changes(starting_version=v_merge).collect()
        ins = {(r.k, r.score) for r in feed
               if r._change_type == "insert"}
        assert (2, 9.9) in ins and (4, 4.4) in ins
        # survivors re-emitted by the rewrite null-fill the new column
        assert all(
            r.score is None for r in feed
            if r._change_type == "insert" and r.k in (1, 3))

    def test_row_tracking_ids_survive_evolution(self, spark, tmp_path):
        lake = self._target(spark, str(tmp_path / "msert"))
        lake.enable_row_tracking()
        ids_before = {
            r.k: r._row_id
            for r in lake.snapshot(with_row_ids=True).collect()
        }
        src = spark.createDataFrame(
            [(2, "B", 7.7)], "k long, v string, score double")
        lake.merge(src, on="k", schema_evolution=True)
        rows = lake.snapshot(with_row_ids=True).collect()
        ids_after = {r.k: r._row_id for r in rows}
        assert ids_after[2] == ids_before[2]  # update keeps its id
        assert ids_after[1] == ids_before[1]  # survivor keeps its id
        assert {r.k: r.score for r in rows}[2] == 7.7


class TestAddColumn:
    """r11: metadata-only ADD COLUMN (Delta ALTER TABLE ADD COLUMNS
    parity): one log write, existing files null-fill on read, future
    writers may carry the column; under column mapping a re-used
    dropped name binds a fresh physical slot."""

    def test_add_and_null_fill(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "ac"), partition_by=())
        lake.append(spark.createDataFrame([(1, "a")], "k long, v string"))
        v_before = lake.version
        lake.add_column("score", "double")
        snap = lake.snapshot()
        assert dict(snap.dtypes)["score"] == "double"
        assert snap.collect()[0].score is None
        # time travel: the pre-add schema has no such column
        assert "score" not in lake.snapshot(version=v_before).columns
        # writers: omitted -> null; carried -> value, no merge_schema
        lake.append(spark.createDataFrame([(2, "b")], "k long, v string"))
        lake.append(spark.createDataFrame(
            [(3, "c", 3.3)], "k long, v string, score double"))
        got = {r.k: r.score for r in lake.snapshot().collect()}
        assert got == {1: None, 2: None, 3: 3.3}
        lake.verify_checksum()

    def test_validation(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "acv"), partition_by=())
        lake.append(spark.createDataFrame([(1,)], "k long"))
        with pytest.raises(ValueError, match="already exists"):
            lake.add_column("k", "long")
        with pytest.raises(ValueError, match="invalid column name"):
            lake.add_column("bad-name", "long")
        with pytest.raises(ValueError, match="reserved"):
            lake.add_column("_rt_x", "long")
        with pytest.raises(ValueError, match="invalid column type"):
            lake.add_column("x", "noType")

    def test_dropped_name_gets_fresh_slot(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "acd"), partition_by=())
        lake.append(spark.createDataFrame(
            [(1, 99.0)], "k long, v double"))
        lake.drop_column("v")
        lake.add_column("v", "double")
        # the old bytes stay dead: re-added v reads NULL, not 99.0
        assert lake.snapshot().collect()[0].v is None
        # and the physical slot is fresh
        doc = lake._column_mapping_doc()
        assert doc["cols"]["v"] != "v"
        # rename still works on the re-added column
        lake.rename_column("v", "w")
        assert "w" in lake.snapshot().columns

    def test_restore_rolls_back(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "acr"), partition_by=())
        lake.append(spark.createDataFrame([(1,)], "k long"))
        v = lake.version
        lake.add_column("extra", "string")
        assert "extra" in lake.snapshot().columns
        lake.restore(v)
        assert "extra" not in lake.snapshot().columns

    def test_default_interplay(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "acdef"), partition_by=())
        lake.append(spark.createDataFrame([(1,)], "k long"))
        lake.add_column("src", "string")
        lake.set_column_default("src", "'backfill'")
        lake.append(spark.createDataFrame([(2,)], "k long"))
        got = {r.k: r.src for r in lake.snapshot().collect()}
        assert got == {1: None, 2: "backfill"}  # never backfilled


class TestHistoryLimit:
    def test_limit_returns_newest_and_bounds_reads(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "hl"), partition_by=())
        for i in range(6):
            lake.append(spark.createDataFrame([(i,)], "k long"))
        reads = {"n": 0}
        orig = lake._read_commit

        def spy(v):
            reads["n"] += 1
            return orig(v)

        lake._read_commit = spy
        try:
            h = lake.history(limit=2)
        finally:
            lake._read_commit = orig
        assert [e["version"] for e in h] == [5, 4]
        assert reads["n"] == 2  # reads stop at the limit
        assert len(lake.history()) == 6  # unlimited unchanged


class TestDropFeature:
    """r12: Delta ALTER TABLE DROP FEATURE — the downgrade path out
    of the forward-compat lockout: cleanup first, then one metadata
    commit records the REDUCED set; re-activation re-stamps."""

    def _dv_lake(self, spark, tmp_path, name="df"):
        lake = TransactionalLake(
            spark, str(tmp_path / name), partition_by=())
        lake.append(spark.createDataFrame(
            [(i, "x") for i in range(20)], "k int, v string"))
        lake.delete_where("k < 5", mode="dv")
        return lake

    def test_blocked_while_live_traces(self, spark, tmp_path):
        lake = self._dv_lake(spark, tmp_path)
        with pytest.raises(ValueError, match="deletion vector"):
            lake.drop_feature("deletion-vectors")

    def test_drop_after_purge_then_reactivation(self, spark, tmp_path):
        lake = self._dv_lake(spark, tmp_path, "df2")
        lake.reorg_purge()  # materializes the vectors
        lake.drop_feature("deletion-vectors")
        assert "deletion-vectors" not in lake.table_features()
        # rows survived the whole dance
        assert lake.snapshot().count() == 15
        # a reopening build that lacks the feature is no longer
        # locked out at head ...
        assert "deletion-vectors" not in TransactionalLake(
            spark, lake.path, partition_by=()).table_features()
        # ... and a NEW dv commit re-stamps the requirement
        lake.delete_where("k = 7", mode="dv")
        assert "deletion-vectors" in lake.table_features()

    def test_drop_is_idempotent_and_unknown_rejected(self, spark, tmp_path):
        lake = self._dv_lake(spark, tmp_path, "df3")
        v = lake.version
        assert lake.drop_feature("clustering") == v  # never present
        with pytest.raises(ValueError, match="unknown feature"):
            lake.set_clustering("k")
            lake.set_clustering(())
            lake.drop_feature("flux-capacitor")

    def test_clustering_constraints_defaults_drop(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "df4"), partition_by=())
        lake.append(spark.createDataFrame([(1, "a")], "k int, v string"))
        lake.set_clustering("k")
        lake.add_check_constraint("kpos", "k > 0")
        lake.set_column_default("v", "'d'")
        feats = set(lake.table_features())
        assert {"clustering", "check-constraints", "column-defaults"} <= feats
        for name in ("clustering", "check-constraints", "column-defaults"):
            with pytest.raises(ValueError):
                lake.drop_feature(name)
        lake.set_clustering(())
        lake.drop_check_constraint("kpos")
        lake.drop_column_default("v")
        for name in ("clustering", "check-constraints", "column-defaults"):
            lake.drop_feature(name)
        assert lake.table_features() == []

    def test_permanent_features_refuse(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "df5"), partition_by=())
        lake.append(spark.createDataFrame([(1, "a")], "k int, v string"))
        lake.rename_column("v", "val")
        with pytest.raises(ValueError, match="permanent physical"):
            lake.drop_feature("column-mapping")

    def test_drop_survives_checkpoint_fold(self, spark, tmp_path):
        """The checkpoint's feature fold is newest-wins: a drop must
        not resurrect when the tail folds into a checkpoint."""
        lake = self._dv_lake(spark, tmp_path, "df6")
        lake.reorg_purge()
        lake.drop_feature("deletion-vectors")
        for i in range(25):  # cross a checkpoint boundary
            lake.set_properties({"tick": str(i)})
        lake.vacuum_log()
        assert "deletion-vectors" not in TransactionalLake(
            spark, lake.path, partition_by=()).table_features()

    def test_time_travel_keeps_old_stamp(self, spark, tmp_path):
        lake = self._dv_lake(spark, tmp_path, "df7")
        v_dv = lake.version
        lake.reorg_purge()
        lake.drop_feature("deletion-vectors")
        assert "deletion-vectors" in lake.table_features(as_of=v_dv)


class TestCheckpointIntervalProperty:
    """r12: Delta `checkpointInterval` parity — the LOG owns the
    checkpoint cadence; the table property overrides every writer's
    constructor arg."""

    def _cps(self, lake):
        import os as _os
        return sorted(
            f for f in _os.listdir(lake.log_path)
            if f.endswith(".checkpoint")
        )

    def test_property_overrides_ctor(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "ci"), partition_by=(),
            checkpoint_every=100)
        lake.append(spark.createDataFrame([(1,)], "k int"))
        lake.set_properties({"checkpointInterval": "3"})
        for i in range(6):
            lake.set_properties({"tick": str(i)})
        assert len(self._cps(lake)) >= 2  # cadence 3, 8 commits in

    def test_property_reaches_other_writers(self, spark, tmp_path):
        path = str(tmp_path / "ci2")
        a = TransactionalLake(spark, path, partition_by=(),
                              checkpoint_every=100)
        a.append(spark.createDataFrame([(1,)], "k int"))
        a.set_properties({"checkpointInterval": "2"})
        b = TransactionalLake(spark, path, partition_by=(),
                              checkpoint_every=500)  # divergent ctor
        for i in range(4):
            b.set_properties({"tick": str(i)})
        assert len(self._cps(b)) >= 2

    def test_invalid_value_falls_back(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "ci3"), partition_by=(),
            checkpoint_every=2)
        lake.append(spark.createDataFrame([(1,)], "k int"))
        lake.set_properties({"checkpointInterval": "soon"})
        for i in range(4):
            lake.set_properties({"tick": str(i)})
        assert len(self._cps(lake)) >= 2  # ctor cadence 2 still live

    def test_zero_disables(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "ci4"), partition_by=(),
            checkpoint_every=2)
        lake.append(spark.createDataFrame([(1,)], "k int"))
        lake.set_properties({"checkpointInterval": "0"})
        before = len(self._cps(lake))
        for i in range(6):
            lake.set_properties({"tick": str(i)})
        assert len(self._cps(lake)) == before


class TestSyncIdentity:
    """r12: Delta SYNC IDENTITY — re-align the high-water mark with
    explicit values that landed via merge; raise-only (the max-fold
    keeps old readers correct and raced commits monotonic)."""

    def _lake(self, spark, tmp_path, name="si"):
        lake = TransactionalLake(
            spark, str(tmp_path / name), partition_by=())
        lake.set_identity("id", start=0)
        lake.append(spark.createDataFrame(
            [("a",), ("b",), ("c",)], "v string"))
        return lake

    def test_merge_above_mark_then_sync(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        assert lake.identity_state() == ("id", 3)
        # explicit ids through MERGE (the path appends forbid)
        src = lake.spark.createDataFrame(
            [(100, "x"), (101, "y")], "id long, v string")
        lake.merge(src, on="id")
        assert lake.identity_state()[1] == 3  # mark is now STALE
        lake.sync_identity()
        assert lake.identity_state() == ("id", 102)
        lake.append(lake.spark.createDataFrame([("z",)], "v string"))
        ids = [r["id"] for r in lake.snapshot().collect()]
        assert len(ids) == len(set(ids)) == 6  # no collision
        assert 102 in ids

    def test_sync_is_noop_when_aligned(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path, "si2")
        v = lake.version
        assert lake.sync_identity() == v  # max+1 == mark already

    def test_sync_never_lowers(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path, "si3")
        lake.delete_where("id >= 1")  # max now 0, mark 3
        v = lake.version
        assert lake.sync_identity() == v
        assert lake.identity_state() == ("id", 3)

    def test_sync_requires_identity(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "si4"), partition_by=())
        lake.append(spark.createDataFrame([(1,)], "k int"))
        with pytest.raises(ValueError, match="no identity"):
            lake.sync_identity()


class TestVacuumLite:
    """r12: VACUUM LITE (Delta 3.1 parity) — candidates from the
    log's remove-lists, no directory walk; orphans stay FULL's job."""

    def _lake(self, spark, tmp_path):
        lake = TransactionalLake(
            spark, str(tmp_path / "vl"), partition_by=())
        lake.set_properties(
            {"retentionDurationCheck.enabled": "false"})
        for i in range(3):
            lake.append(spark.createDataFrame(
                [(i, "x")], "k int, v string").coalesce(1))
        lake.optimize()  # removes the 3 small files
        return lake

    def test_lite_removes_logged_removes_only(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        # an orphan the log never saw (crashed writer simulation)
        orphan = os.path.join(lake.path, "orphan.parquet")
        open(orphan, "wb").write(b"x")
        dry = lake.vacuum(retention_seconds=0, dry_run=True, lite=True)
        assert len(dry) == 3 and "orphan.parquet" not in dry
        n = lake.vacuum(retention_seconds=0, lite=True)
        assert n == 3
        assert os.path.exists(orphan)  # lite cannot see it
        assert lake.snapshot().count() == 3  # live data intact
        # FULL vacuum still owns the orphan
        full = lake.vacuum(retention_seconds=0, dry_run=True)
        assert "orphan.parquet" in full

    def test_lite_is_idempotent(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        assert lake.vacuum(retention_seconds=0, lite=True) == 3
        assert lake.vacuum(retention_seconds=0, lite=True) == 0

    def test_lite_respects_retention(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        assert lake.vacuum(retention_seconds=3600, lite=True) == 0


class TestMergeNotMatchedBySource:
    """r12: Delta WHEN NOT MATCHED BY SOURCE THEN DELETE — the
    one-statement source-mirrors-target sync."""

    def _lake(self, spark, tmp_path, name="ms"):
        lake = TransactionalLake(
            spark, str(tmp_path / name), partition_by=())
        lake.append(spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k int, v string"
        ).repartition(3))
        return lake

    def test_full_sync(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path)
        src = lake.spark.createDataFrame(
            [(2, "upd2"), (5, "upd5"), (42, "new")], "k int, v string")
        lake.merge(src, on="k", when_not_matched_by_source="delete")
        got = sorted((r["k"], r["v"]) for r in lake.snapshot().collect())
        assert got == [(2, "upd2"), (5, "upd5"), (42, "new")]

    def test_compose_with_matched_delete(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path, "ms2")
        src = lake.spark.createDataFrame([(3, "x")], "k int, v string")
        lake.merge(
            src, on="k", when_matched="delete",
            when_not_matched="ignore",
            when_not_matched_by_source="delete",
        )
        assert lake.snapshot().count() == 0

    def test_scoped_probe_not_wholesale(self, spark, tmp_path):
        """A file whose EVERY row matches the source is affected via
        the matched probe only — and survivors of by-source delete
        are exactly the matched rows."""
        lake = TransactionalLake(
            spark, str(tmp_path / "ms3"), partition_by=())
        lake.append(lake.spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string").coalesce(1))
        lake.append(lake.spark.createDataFrame(
            [(3, "c"), (4, "d")], "k int, v string").coalesce(1))
        src = lake.spark.createDataFrame(
            [(1, "A"), (2, "B")], "k int, v string")
        lake.merge(src, on="k", when_not_matched_by_source="delete")
        got = sorted((r["k"], r["v"]) for r in lake.snapshot().collect())
        assert got == [(1, "A"), (2, "B")]

    def test_dv_mode_refuses(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path, "ms4")
        src = lake.spark.createDataFrame([(1, "x")], "k int, v string")
        with pytest.raises(ValueError, match="rewrite"):
            lake.merge(src, on="k", mode="dv",
                       when_not_matched_by_source="delete")

    def test_cdc_sees_the_deletes(self, spark, tmp_path):
        lake = self._lake(spark, tmp_path, "ms5")
        v0 = lake.version
        src = lake.spark.createDataFrame(
            [(0, "z")], "k int, v string")
        lake.merge(src, on="k", when_not_matched_by_source="delete")
        ch = lake.read_changes(v0 + 1)
        dels = {r["k"] for r in ch.collect()
                if r["_change_type"] == "delete"}
        assert dels == set(range(10))  # every pre-image emitted


class TestTruncateAndPartitions:
    """r12 late additions: metadata-only TRUNCATE and the
    SHOW PARTITIONS listing (both O(live files), zero data jobs)."""

    def test_truncate_metadata_only_then_vacuum_reclaims(
        self, spark, lake
    ):
        lake.append(_df(spark, [("AAPL", 150)], date="2024-06-15"))
        lake.append(_df(spark, [("MSFT", 300)], date="2024-06-16"))
        n_parquet = sum(
            1
            for root, _d, names in os.walk(lake.path)
            if "_txn_log" not in root
            for n in names
            if n.endswith(".parquet")
        )
        assert n_parquet >= 2
        v = lake.truncate()
        assert lake.snapshot().count() == 0
        assert lake.snapshot(version=v - 1).count() == 2
        assert lake.history()[0]["op"] == "truncate"
        # bytes are reclaimed by vacuum, not by truncate itself
        lake.set_properties({"retentionDurationCheck.enabled": "false"})
        lake.vacuum(retention_seconds=0.0)
        left = sum(
            1
            for root, _d, names in os.walk(lake.path)
            if "_txn_log" not in root
            for n in names
            if n.endswith(".parquet")
        )
        assert left == 0
        # post-truncate appends start clean
        lake.append(_df(spark, [("GOOG", 2800)]))
        assert lake.snapshot().count() == 1

    def test_truncate_empty_table_commits_cleanly(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.truncate()
        v = lake.truncate()  # already empty: still a commit
        assert v == lake.version
        assert lake.snapshot().count() == 0

    def test_partitions_multi_key(self, spark, tmp_path):
        lk = TransactionalLake(
            spark, str(tmp_path / "mk"),
            partition_by=("date", "symbol"),
        )
        lk.append(_df(spark, [("AAPL", 1), ("MSFT", 2)], date="2024-06-15"))
        lk.append(_df(spark, [("AAPL", 3)], date="2024-06-16"))
        got = [(r["date"], r["symbol"]) for r in lk.partitions().collect()]
        assert got == [
            ("2024-06-15", "AAPL"),
            ("2024-06-15", "MSFT"),
            ("2024-06-16", "AAPL"),
        ]
        # delete a whole partition: it must drop from the listing
        lk.delete_where("date = '2024-06-16'")
        got = [(r["date"], r["symbol"]) for r in lk.partitions().collect()]
        assert got == [("2024-06-15", "AAPL"), ("2024-06-15", "MSFT")]

    def test_partitions_unpartitioned_refuses(self, spark, tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "np"), partition_by=())
        lk.append(_df(spark, [("AAPL", 1)]))
        with pytest.raises(ValueError, match="not partitioned"):
            lk.partitions()


class TestCopyInto:
    """r12: idempotent bulk file loading (Databricks COPY INTO)."""

    def _mk_sources(self, spark, tmp_path, n=2, start=0):
        src = tmp_path / "incoming"
        src.mkdir(exist_ok=True)
        for i in range(start, start + n):
            spark.createDataFrame(
                [(f"SYM{i}", float(i), "2024-06-15")],
                "symbol string, price double, date string",
            ).coalesce(1).write.mode("overwrite").parquet(
                str(src / f"batch_{i}")
            )
        return str(src)

    def test_loads_then_noop_then_incremental(self, spark, lake, tmp_path):
        src = self._mk_sources(spark, tmp_path, n=2)
        rec = lake.copy_into(src)
        assert rec["num_files_loaded"] >= 2 and rec["num_rows_loaded"] == 2
        assert lake.snapshot().count() == 2
        v = lake.version
        # idempotent re-run: version-free no-op
        rec2 = lake.copy_into(src)
        assert rec2 == {
            "version": v,
            "num_files_loaded": 0,
            "num_rows_loaded": 0,
            "num_files_skipped": rec["num_files_loaded"],
        }
        assert lake.version == v
        # new files land: only they load
        self._mk_sources(spark, tmp_path, n=1, start=2)
        rec3 = lake.copy_into(src)
        assert rec3["num_rows_loaded"] == 1
        assert lake.snapshot().count() == 3

    def test_force_reloads(self, spark, lake, tmp_path):
        src = self._mk_sources(spark, tmp_path, n=1)
        lake.copy_into(src)
        rec = lake.copy_into(src, force=True)
        assert rec["num_files_loaded"] >= 1
        assert lake.snapshot().count() == 2  # duplicate, as documented

    def test_loaded_set_survives_log_vacuum(self, spark, tmp_path):
        lk = TransactionalLake(
            spark, str(tmp_path / "tx"), partition_by=(),
            checkpoint_every=1,
        )
        src = self._mk_sources(spark, tmp_path, n=1)
        lk.copy_into(src)
        lk.append(spark.createDataFrame(
            [("X", 1.0, "2024-06-15")],
            "symbol string, price double, date string"))
        lk.vacuum_log()
        # the defining commit is gone; the checkpoint carries the set
        rec = lk.copy_into(src)
        assert rec["num_files_loaded"] == 0
        assert lk.snapshot().count() == 2

    def test_copied_rows_ride_the_append_path(self, spark, lake, tmp_path):
        """Constraints apply to copied rows exactly as to appends."""
        lake.append(_df(spark, [("AAPL", 150)]))
        lake.add_check_constraint("price_pos", "price > 0")
        src = tmp_path / "bad"
        src.mkdir()
        spark.createDataFrame(
            [("BAD", -5.0, "2024-06-15")],
            "symbol string, price double, date string",
        ).coalesce(1).write.parquet(str(src / "b"))
        with pytest.raises(ValueError, match="price_pos"):
            lake.copy_into(str(src))
        # the failed copy recorded nothing: a fixed retry still loads
        assert lake._copy_sources() == set()

    def test_unknown_format_and_empty_dir(self, spark, lake, tmp_path):
        with pytest.raises(ValueError, match="unsupported FILEFORMAT"):
            lake.copy_into(str(tmp_path), file_format="avro")
        empty = tmp_path / "none"
        empty.mkdir()
        with pytest.raises(ValueError, match="no parquet files"):
            lake.copy_into(str(empty))

    def test_csv_with_format_options(self, spark, lake, tmp_path):
        src = tmp_path / "csvs"
        src.mkdir()
        (src / "a.csv").write_text(
            "symbol,price,date\nAAPL,150.0,2024-06-15\n"
        )
        rec = lake.copy_into(
            str(src), file_format="csv",
            options={"header": "true", "inferSchema": "true"},
        )
        assert rec["num_rows_loaded"] == 1
        got = lake.snapshot().collect()[0]
        assert got["symbol"] == "AAPL" and got["price"] == 150.0


class TestPartitionDeleteFastPath:
    """r12: metadata-only DELETE when the predicate references only
    partition columns (Delta partition-delete parity)."""

    def _jobs(self, spark):
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def test_partition_equality_is_metadata_only(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)], date="2024-06-15"))
        lake.append(_df(spark, [("MSFT", 300)], date="2024-06-16"))
        before = self._jobs(spark)
        lake.delete_where("date = '2024-06-16'")
        assert self._jobs(spark) - before == 0, "partition delete ran a job"
        assert lake.history()[0].get("metadata_only") is True
        got = [r["symbol"] for r in lake.snapshot().collect()]
        assert got == ["AAPL"]

    def test_between_and_strict_ops(self, spark, lake):
        for d in ("2024-06-14", "2024-06-15", "2024-06-16", "2024-06-17"):
            lake.append(_df(spark, [("S" + d[-2:], 1)], date=d))
        lake.delete_where(
            "date BETWEEN '2024-06-15' AND '2024-06-16'"
        )
        left = sorted(str(r["date"]) for r in lake.snapshot().collect())
        assert left == ["2024-06-14", "2024-06-17"]
        lake.delete_where("date > '2024-06-16'")
        left = sorted(str(r["date"]) for r in lake.snapshot().collect())
        assert left == ["2024-06-14"]

    def test_matches_scan_path_semantics(self, spark, tmp_path):
        """Fast path and scan path must produce identical visible
        rows for the same partition predicate."""
        a = TransactionalLake(spark, str(tmp_path / "a"),
                              partition_by=("date",))
        b = TransactionalLake(spark, str(tmp_path / "b"), partition_by=())
        rows = [("AAPL", 150), ("MSFT", 300)]
        for d in ("2024-06-15", "2024-06-16"):
            a.append(_df(spark, rows, date=d))
            b.append(_df(spark, rows, date=d))
        pred = "date <= '2024-06-15'"
        a.delete_where(pred)   # fast path (partitioned)
        b.delete_where(pred)   # scan path (unpartitioned)
        ka = sorted((r["symbol"], str(r["date"]))
                    for r in a.snapshot().collect())
        kb = sorted((r["symbol"], str(r["date"]))
                    for r in b.snapshot().collect())
        assert ka == kb
        assert a.history()[0].get("metadata_only") is True
        assert b.history()[0].get("metadata_only") is None

    def test_mixed_predicate_falls_back(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)],
                        date="2024-06-15"))
        lake.delete_where("date = '2024-06-15' AND price > 200")
        assert lake.history()[0].get("metadata_only") is None
        got = [r["symbol"] for r in lake.snapshot().collect()]
        assert got == ["AAPL"]

    def test_dv_mode_takes_fast_path_too(self, spark, lake):
        """Removing a fully-deleted file beats recording a full
        deletion vector — the fast path applies in either mode."""
        lake.append(_df(spark, [("AAPL", 150)], date="2024-06-15"))
        lake.append(_df(spark, [("MSFT", 300)], date="2024-06-16"))
        before = self._jobs(spark)
        lake.delete_where("date = '2024-06-16'", mode="dv")
        assert self._jobs(spark) - before == 0
        assert lake.history()[0].get("metadata_only") is True
        assert lake.snapshot().count() == 1

    def test_cdc_emits_deletes_lazily(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)],
                        date="2024-06-15"))
        v = lake.delete_where("date = '2024-06-15'")
        feed = lake.read_changes(v)
        got = {(r["symbol"], r["_change_type"]) for r in feed.collect()}
        assert got == {("AAPL", "delete"), ("MSFT", "delete")}

    def test_no_match_commits_noop(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)], date="2024-06-15"))
        v = lake.delete_where("date = '1999-01-01'")
        assert v == lake.version
        assert lake.snapshot().count() == 1

    def test_numeric_partition_values(self, spark, tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "num"),
                               partition_by=("bucket",))
        lk.append(spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 10)],
            "symbol string, bucket long"))
        before = self._jobs(spark)
        lk.delete_where("bucket >= 2")
        assert self._jobs(spark) - before == 0
        # numeric compare, not string compare ('10' < '2' as strings)
        assert [r["symbol"] for r in lk.snapshot().collect()] == ["a"]

    def test_null_partition_never_matches(self, spark, tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "nl"),
                               partition_by=("grp",))
        lk.append(spark.createDataFrame(
            [("a", "x"), ("b", None)], "symbol string, grp string"))
        lk.delete_where("grp <= 'zzz'")
        # the NULL-partition row survives: NULL comparisons are
        # unknown and DELETE keeps unknown rows
        assert [r["symbol"] for r in lk.snapshot().collect()] == ["b"]


class TestMultipartCheckpoint:
    """r12: checkpoint.partSize shards the per-file maps across part
    files (Delta multipart-checkpoint parity)."""

    def _mk(self, spark, tmp_path, part_size=3):
        lk = TransactionalLake(
            spark, str(tmp_path / "mp"), partition_by=(),
            checkpoint_every=1,
        )
        lk.append(_df(spark, [("SEED", 1)]))
        lk.set_properties({"checkpoint.partSize": str(part_size)})
        for i in range(4):
            lk.append(_df(spark, [(f"S{i}", i + 2)]))
        return lk

    def test_parts_written_and_state_identical(self, spark, tmp_path):
        lk = self._mk(spark, tmp_path)
        parts = [
            n for n in os.listdir(lk.log_path)
            if ".checkpoint-part-" in n
        ]
        assert parts, "no part files written"
        # a FRESH open resolves through the multipart checkpoint
        fresh = TransactionalLake(spark, lk.path, partition_by=())
        assert fresh.snapshot().count() == 5
        assert fresh.count_rows() == 5  # logged rows survive sharding
        got = sorted(r["symbol"] for r in fresh.snapshot().collect())
        assert got == ["S0", "S1", "S2", "S3", "SEED"]

    def test_survives_vacuum_log(self, spark, tmp_path):
        lk = self._mk(spark, tmp_path)
        lk.vacuum_log()
        fresh = TransactionalLake(spark, lk.path, partition_by=())
        assert fresh.snapshot().count() == 5
        # stale parts from older checkpoints are cleaned
        head_prefix = f"{lk.version:08d}."
        stale = [
            n for n in os.listdir(lk.log_path)
            if ".checkpoint-part-" in n and not n.startswith(head_prefix)
        ]
        assert stale == []

    def test_missing_part_falls_back(self, spark, tmp_path):
        """A torn part set must never serve wrong state: the reader
        skips the broken checkpoint (older checkpoint / log fold)."""
        lk = self._mk(spark, tmp_path)
        part = sorted(
            n for n in os.listdir(lk.log_path)
            if n.startswith(f"{lk.version:08d}.") and "part" in n
        )[0]
        os.unlink(os.path.join(lk.log_path, part))
        fresh = TransactionalLake(spark, lk.path, partition_by=())
        assert fresh.snapshot().count() == 5  # log is source of truth

    def test_dv_and_row_tracking_shard(self, spark, tmp_path):
        lk = TransactionalLake(
            spark, str(tmp_path / "rt"), partition_by=(),
            checkpoint_every=1,
        )
        lk.append(_df(spark, [("SEED", 1)]))
        lk.enable_row_tracking()
        lk.set_properties({"checkpoint.partSize": "2"})
        for i in range(3):
            lk.append(_df(spark, [(f"S{i}", i + 2), (f"T{i}", i + 20)]))
        lk.delete_where("symbol = 'T1'", mode="dv")
        v = lk.version
        lk.append(_df(spark, [("LAST", 99)]))  # checkpoint past the dv
        fresh = TransactionalLake(spark, lk.path, partition_by=())
        assert fresh.snapshot().count() == 7
        ids = fresh.snapshot(with_row_ids=True)
        assert ids.select("_row_id").distinct().count() == 7
        # historical read through the sharded checkpoint
        assert fresh.snapshot(version=v).count() == 6


class TestFsckRepair:
    """r12: FSCK REPAIR TABLE — drop log entries whose physical
    files an external process deleted."""

    def test_repair_after_external_deletion(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)], date="2024-06-15"))
        lake.append(_df(spark, [("MSFT", 300)], date="2024-06-16"))
        # an external process deletes one partition's files
        victim = [
            f for f in lake._snapshot_state()[0] if "2024-06-16" in f
        ]
        for rel in victim:
            os.unlink(os.path.join(lake.path, rel))
        with pytest.raises(Exception):
            lake.snapshot().collect()  # reads now fail
        dry = lake.fsck_repair(dry_run=True)
        assert sorted(dry) == sorted(victim)
        assert lake.history()[0]["op"] == "append"  # dry run: no commit
        fixed = lake.fsck_repair()
        assert sorted(fixed) == sorted(victim)
        assert lake.history()[0]["op"] == "fsck"
        got = [r["symbol"] for r in lake.snapshot().collect()]
        assert got == ["AAPL"]  # reads work again; data honestly lost

    def test_repair_clean_table_is_noop(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150)]))
        v = lake.version
        assert lake.fsck_repair() == []
        assert lake.version == v  # nothing to repair: no commit

    def test_cdc_is_silent_for_fsck(self, spark, lake):
        lake.append(_df(spark, [("AAPL", 150), ("MSFT", 300)]))
        rel = lake._snapshot_state()[0][0]
        os.unlink(os.path.join(lake.path, rel))
        v = lake.fsck_repair()
        feed = lake.read_changes(lake.version)
        assert feed.count() == 0  # nothing left to emit a pre-image from


class TestOptimizedWrites:
    """r12: autoOptimize.optimizeWrite — one task's output per
    partition value instead of one file per input task per value."""

    def _counts(self, lake):
        from collections import Counter
        per = Counter()
        for rel in lake._snapshot_state()[0]:
            per[os.path.dirname(rel)] += 1
        return per

    def test_one_file_per_partition_value(self, spark, tmp_path):
        src = (
            spark.range(3000)
            .selectExpr(
                "id as k", "cast(id % 3 as string) as cat",
                "id * 1.0 as v",
            )
            .repartition(8)
        )
        # AQE would coalesce this tiny shuffle and hide the spray
        # the property exists to fix; hold it off for the comparison
        aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            off = TransactionalLake(spark, str(tmp_path / "off"),
                                    partition_by=("cat",))
            off.append(src)
            assert max(self._counts(off).values()) > 1  # M x N spray
            on = TransactionalLake(spark, str(tmp_path / "on"),
                                   partition_by=("cat",))
            on.append(spark.range(1).selectExpr(
                "id as k", "'0' as cat", "id * 1.0 as v"))
            on.set_properties({"autoOptimize.optimizeWrite": "true"})
            on.append(src)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        per = self._counts(on)
        assert len(per) == 3
        # the optimized append added exactly one file per value
        assert all(n <= 2 for n in per.values()), per  # 1 + the seed
        # same rows either way
        assert on.snapshot().count() == 3001

    def test_clustering_layout_survives_optimize_write(
        self, spark, tmp_path
    ):
        lk = TransactionalLake(spark, str(tmp_path / "cl"),
                               partition_by=())
        lk.append(spark.range(1000).selectExpr("id as k", "id * 1.0 as v"))
        lk.set_properties({"autoOptimize.optimizeWrite": "true"})
        lk.set_clustering(("k",))
        lk.append(spark.range(1000, 2000).selectExpr(
            "id as k", "id * 1.0 as v").repartition(4))
        lk.optimize_clustering(files_per_partition=4)
        info = lk.clustering_info()
        assert info["unclustered_files"] == 0
        # range layout held: k-bounded scan skips files (the
        # preserve_layout exemption - an optimize-write reshuffle
        # here would spread every k everywhere)
        kept, total, _ = lk.prune_files({"k": (0, 10)})
        assert len(kept) < total


class TestIdentityStartStep:
    """r12: IDENTITY START WITH / INCREMENT BY (step >= 1 only —
    the log's max() fold cannot express a descending sequence)."""

    def test_step_grid_assignment(self, spark, tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "id"), partition_by=())
        lk.set_identity("rid", start=100, step=10)
        lk.append(spark.createDataFrame(
            [("a",), ("b",), ("c",)], "symbol string"))
        got = sorted(r["rid"] for r in lk.snapshot().collect())
        assert got == [100, 110, 120]
        lk.append(spark.createDataFrame([("d",)], "symbol string"))
        got = sorted(r["rid"] for r in lk.snapshot().collect())
        assert got == [100, 110, 120, 130]

    def test_negative_step_refuses(self, spark, tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "neg"), partition_by=())
        with pytest.raises(ValueError, match="step must be >= 1"):
            lk.set_identity("rid", start=0, step=-5)

    def test_sync_stays_on_grid(self, spark, tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "sg"), partition_by=())
        lk.set_identity("rid", start=0, step=10)
        lk.append(spark.createDataFrame([("a",), ("b",)], "symbol string"))
        # explicit ids above the mark land via merge
        lk.merge(
            spark.createDataFrame([(95, "m")], "rid long, symbol string"),
            on=["rid"],
        )
        lk.sync_identity()
        lk.append(spark.createDataFrame([("z",)], "symbol string"))
        ids = sorted(r["rid"] for r in lk.snapshot().collect())
        assert ids[-1] == 100  # next grid point above 95
        assert ids == [0, 10, 95, 100]

    def test_step_survives_clone_and_reopen(self, spark, tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "cl"), partition_by=())
        lk.set_identity("rid", start=5, step=7)
        lk.append(spark.createDataFrame([("a",)], "symbol string"))
        cl = lk.clone(str(tmp_path / "cl2"))
        cl.append(spark.createDataFrame([("b",)], "symbol string"))
        ids = sorted(r["rid"] for r in cl.snapshot().collect())
        assert ids == [5, 12]
        fresh = TransactionalLake(spark, lk.path, partition_by=())
        fresh.append(spark.createDataFrame([("c",)], "symbol string"))
        assert sorted(
            r["rid"] for r in fresh.snapshot().collect()
        ) == [5, 12]


class TestDmlDataSkipping:
    """r12: delete/update scan only stats-possible files (data-
    skipping DML), with type-ambiguity guards that refuse to prove."""

    def _ranged(self, spark, tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "ds"), partition_by=())
        for lo in (0, 100, 200):
            lk.append(
                spark.range(lo, lo + 100).selectExpr(
                    "id as k", "id * 1.0 as v").coalesce(1)
            )
        return lk

    def test_prune_keeps_only_possible_files(self, spark, tmp_path):
        lk = self._ranged(spark, tmp_path)
        old = lk._snapshot_state()[0]
        kept = lk._dml_prune(old, "k BETWEEN 150 AND 160")
        assert len(kept) < len(old)
        # and the delete is still exact
        lk.delete_where("k BETWEEN 150 AND 160")
        assert lk.snapshot().count() == 300 - 11
        # only the possible files were touched
        h = lk.history()[0]
        assert len(h.get("remove", [])) <= len(kept)

    def test_unparseable_conjunct_still_prunes_by_the_parsed_one(
        self, spark, tmp_path
    ):
        lk = self._ranged(spark, tmp_path)
        old = lk._snapshot_state()[0]
        kept = lk._dml_prune(old, "k >= 250 AND v + 1 > 0")
        assert len(kept) == 1
        lk.delete_where("k >= 250 AND v + 1 > 0")
        assert lk.snapshot().count() == 250

    def test_or_and_parens_disable_pruning(self, spark, tmp_path):
        lk = self._ranged(spark, tmp_path)
        old = lk._snapshot_state()[0]
        assert lk._dml_prune(old, "k < 10 OR k > 290") == old
        assert lk._dml_prune(old, "(k < 10)") == old

    def test_numeric_string_ambiguity_keeps(self, spark, tmp_path):
        """A string column with numeric-looking values: lexical and
        numeric orders disagree ('10' < '9' lexically) — the pruner
        must refuse to prove rather than guess the column's type."""
        lk = TransactionalLake(spark, str(tmp_path / "amb"),
                               partition_by=())
        lk.append(spark.createDataFrame([("10",)], "scol string"))
        lk.append(spark.createDataFrame([("9",)], "scol string"))
        old = lk._snapshot_state()[0]
        kept = lk._dml_prune(old, "scol <= '5'")
        stats = lk._stats_index()
        ten_file = next(f for f in old if stats[f]["scol"][0] == "10")
        # lexical: '10' <= '5' TRUE; numeric: 10 <= 5 FALSE —
        # disagreement => the '10' file MUST be kept (a numeric guess
        # would wrongly prune the row Spark deletes). The '9' file is
        # legitimately prunable: both orders agree it can't match.
        assert ten_file in kept
        # Spark's own (string) semantics decide the actual delete
        lk.delete_where("scol <= '5'")
        assert [r["scol"] for r in lk.snapshot().collect()] == ["9"]

    def test_iso_boundary_prefix_is_conservative(self, spark, tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "iso"),
                               partition_by=())
        lk.append(spark.createDataFrame(
            [("2024-06-15 00:00:00",)], "ts string"))
        old = lk._snapshot_state()[0]
        # date-only literal == midnight: lexical prefix order would
        # wrongly prove no-match for <=; the pruner must keep
        assert lk._dml_prune(old, "ts <= '2024-06-15'") == old

    def test_dv_delete_prunes_too(self, spark, tmp_path):
        lk = self._ranged(spark, tmp_path)
        lk.delete_where("k = 250", mode="dv")
        assert lk.snapshot().count() == 299
        assert lk.snapshot().filter("k = 250").count() == 0


class TestMaxRecordsPerFileProperty:
    def test_property_bounds_file_rows(self, spark, tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "mrf"),
                               partition_by=())
        lk.append(spark.range(1).selectExpr("id as k"))
        lk.set_properties({"write.maxRecordsPerFile": "100"})
        lk.append(spark.range(1000).selectExpr("id as k").coalesce(1))
        import pyarrow.parquet as pq
        sizes = [
            pq.ParquetFile(os.path.join(lk.path, rel)).metadata.num_rows
            for rel in lk._snapshot_state()[0]
        ]
        assert max(sizes) <= 100
        assert lk.snapshot().count() == 1001
        # invalid value falls back instead of failing the write
        lk.set_properties({"write.maxRecordsPerFile": "bogus"})
        lk.append(spark.range(5).selectExpr("id as k"))
        assert lk.snapshot().count() == 1006


class TestPartitionDeleteAutoScope:
    """r12: the partition-delete fast path auto-declares its parsed
    constraints as read bounds — concurrent appends to OTHER
    partitions rebase instead of failing (delete yesterday while
    ingest appends today)."""

    def test_disjoint_append_rebases(self, spark, tmp_path):
        path = str(tmp_path / "tx")
        lake = TransactionalLake(spark, path, partition_by=("grp",))
        lake.append(spark.createDataFrame(
            [("a", 1, "old")], "symbol string, k long, grp string"))
        other = TransactionalLake(spark, path, partition_by=("grp",))
        orig = lake._check_read_bounds
        done = []

        def racing(pred, rb, schemas):
            if not done:
                done.append(1)
                # lands between the fast path's state read and its
                # commit; grp='new' is provably outside grp='old'
                other.append(spark.createDataFrame(
                    [("z", 9, "new")],
                    "symbol string, k long, grp string"))
            return orig(pred, rb, schemas)

        lake._check_read_bounds = racing  # type: ignore[method-assign]
        try:
            lake.delete_where("grp = 'old'")
        finally:
            lake._check_read_bounds = orig  # type: ignore[method-assign]
        assert lake.history()[0].get("metadata_only") is True
        got = [(r["symbol"], r["grp"]) for r in lake.snapshot().collect()]
        assert got == [("z", "new")]

    def test_same_partition_append_conflicts(self, spark, tmp_path):
        path = str(tmp_path / "tx2")
        lake = TransactionalLake(spark, path, partition_by=("grp",))
        lake.append(spark.createDataFrame(
            [("a", 1, "old")], "symbol string, k long, grp string"))
        other = TransactionalLake(spark, path, partition_by=("grp",))
        orig = lake._check_read_bounds
        done = []

        def racing(pred, rb, schemas):
            if not done:
                done.append(1)
                other.append(spark.createDataFrame(
                    [("z", 9, "old")],  # SAME partition: must conflict
                    "symbol string, k long, grp string"))
            return orig(pred, rb, schemas)

        lake._check_read_bounds = racing  # type: ignore[method-assign]
        try:
            with pytest.raises(RuntimeError, match="concurrent"):
                lake.delete_where("grp = 'old'")
        finally:
            lake._check_read_bounds = orig  # type: ignore[method-assign]
        # the interleaved row is intact; the delete never landed
        assert lake.snapshot().count() == 2

    def test_ambiguous_literal_derives_nothing(self, spark):
        # numeric-looking quoted literal: no auto-scope
        assert TransactionalLake._derive_read_bounds(
            [("grp", "=", "'10'")]
        ) is None
        # clean cases derive
        assert TransactionalLake._derive_read_bounds(
            [("grp", "=", "'old'"), ("k", ">=", "5"), ("k", "<", "9")]
        ) == {"grp": ("old", "old"), "k": (5, 9)}


class TestMergeDataSkipping:
    """r12: merge probes only files whose stats can hold a source
    key (the source's [min, max] envelope)."""

    def _ranged(self, spark, tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "ms"), partition_by=())
        for lo in (0, 100, 200):
            lk.append(spark.range(lo, lo + 100).selectExpr(
                "id as k", "cast(id as double) as v").coalesce(1))
        return lk

    def test_prune_by_ranges_unit(self, spark, tmp_path):
        lk = self._ranged(spark, tmp_path)
        old = lk._snapshot_state()[0]
        kept = lk._prune_by_key_ranges(old, {"k": (150, 160)})
        assert len(kept) == 1
        # mixed / unknown types keep everything
        assert lk._prune_by_key_ranges(old, {"k": ("x", "y")}) == old
        assert lk._prune_by_key_ranges(old, {"k": (None, None)}) == old

    def test_merge_touches_only_possible_files(self, spark, tmp_path):
        lk = self._ranged(spark, tmp_path)
        src = spark.createDataFrame(
            [(150, 999.0), (155, 998.0), (400, 1.0)], "k long, v double"
        )
        lk.merge(src, on=["k"])
        h = lk.history()[0]
        # only the [100,200) file was rewritten; inserts add new files
        assert len(h["remove"]) == 1
        got = {r["k"]: r["v"] for r in lk.snapshot().collect()}
        assert got[150] == 999.0 and got[155] == 998.0 and got[400] == 1.0
        assert len(got) == 301

    def test_merge_dv_prunes_scan(self, spark, tmp_path):
        lk = self._ranged(spark, tmp_path)
        src = spark.createDataFrame([(250, 7.0)], "k long, v double")
        lk.merge(src, on=["k"], mode="dv")
        got = {r["k"]: r["v"] for r in lk.snapshot().collect()}
        assert got[250] == 7.0 and len(got) == 300

    def test_by_source_delete_probes_unpruned(self, spark, tmp_path):
        lk = self._ranged(spark, tmp_path)
        src = spark.createDataFrame(
            [(50, 1.0)], "k long, v double"
        )  # envelope [50, 50] — but BY SOURCE must still see ALL files
        lk.merge(
            src, on=["k"], when_not_matched_by_source="delete"
        )
        got = sorted(r["k"] for r in lk.snapshot().collect())
        assert got == [50]


class TestCompressionProperty:
    def test_codec_applies_to_every_writer(self, spark, tmp_path):
        import pyarrow.parquet as pq
        lk = TransactionalLake(spark, str(tmp_path / "cc"),
                               partition_by=())
        lk.append(_df(spark, [("AAPL", 150)]))
        lk.set_properties({"write.compression": "zstd"})
        lk.append(_df(spark, [("MSFT", 300)]))
        codecs = set()
        for rel in lk._snapshot_state()[0]:
            md = pq.ParquetFile(
                os.path.join(lk.path, rel)).metadata
            codecs.add(md.row_group(0).column(0).compression)
        assert "ZSTD" in codecs  # the post-property file
        # a fresh writer adopts the recorded codec too
        fresh = TransactionalLake(spark, lk.path, partition_by=())
        fresh.append(_df(spark, [("GOOG", 2800)]))
        newest = fresh.history()[0]["add"][0]
        md = pq.ParquetFile(os.path.join(lk.path, newest)).metadata
        assert md.row_group(0).column(0).compression == "ZSTD"


class TestLateR12FeatureStamps:
    """r12 late: multipart checkpoints, copy_into, and stepped
    identity stamp the table-features protocol — an old build would
    CORRUPT (empty-looking table / re-ingest / off-grid ids) instead
    of refusing, which is exactly what the stamp prevents."""

    def test_multipart_checkpoint_stamps_and_blocks(self, spark,
                                                    tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "mp"),
                               partition_by=(), checkpoint_every=1)
        lk.append(_df(spark, [("A", 1)]))
        assert "multipart-checkpoint" not in lk.table_features()
        lk.set_properties({"checkpoint.partSize": "2"})
        assert "multipart-checkpoint" in lk.table_features()
        with pytest.raises(ValueError, match="partSize is still set"):
            lk.drop_feature("multipart-checkpoint")
        lk.set_properties({"checkpoint.partSize": None})
        # sharded checkpoints may still be retained
        for _ in range(3):
            lk.append(_df(spark, [("B", 2)]))
        lk.vacuum_log()
        lk.drop_feature("multipart-checkpoint")
        assert "multipart-checkpoint" not in lk.table_features()

    def test_copy_into_stamps_and_stays(self, spark, tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "ci"),
                               partition_by=())
        src = tmp_path / "in"
        src.mkdir()
        spark.createDataFrame(
            [("A", 1.0, "2024-06-15")],
            "symbol string, price double, date string",
        ).coalesce(1).write.parquet(str(src / "b"))
        lk.copy_into(str(src))
        assert "copy-into" in lk.table_features()
        with pytest.raises(ValueError, match="re-ingest"):
            lk.drop_feature("copy-into")

    def test_identity_step_stamps(self, spark, tmp_path):
        lk = TransactionalLake(spark, str(tmp_path / "is"),
                               partition_by=())
        lk.set_identity("rid", start=0, step=5)
        feats = lk.table_features()
        assert "identity-step" in feats and "identity-columns" in feats
        # plain identity does NOT stamp the step feature
        lk2 = TransactionalLake(spark, str(tmp_path / "is2"),
                                partition_by=())
        lk2.set_identity("rid")
        assert "identity-step" not in lk2.table_features()


class TestRewriteKeepsCommittedPartitionType:
    """r13 (found by the hypothesis model test): partition DISCOVERY
    retypes hive-dir values at read (string date -> DATE), and a
    rewrite built from a snapshot (replaceWhere / merge / DML)
    committed the DISCOVERED type as the table schema — after which
    an append of the ORIGINAL string type was refused. _conform now
    casts snapshot-derived columns back to the committed type."""

    def test_replace_where_then_append(self, spark, tmp_path):
        lk = TransactionalLake(
            spark, str(tmp_path / "pt"), partition_by=("date",)
        )

        def df_for(ids):
            return spark.createDataFrame(
                [(i, "2024-06-15") for i in sorted(ids)],
                "id long, date string",
            )

        lk.append(df_for({0, 1}))
        lk.overwrite_where(df_for({2}), "id = 1 OR id = 2")
        lk.append(df_for({3, 4}))  # refused before the fix
        assert sorted(r.id for r in lk.snapshot().collect()) == [
            0, 2, 3, 4,
        ]

    def test_merge_then_append(self, spark, tmp_path):
        lk = TransactionalLake(
            spark, str(tmp_path / "mt"), partition_by=("date",)
        )

        def df_for(ids):
            return spark.createDataFrame(
                [(i, "2024-06-15") for i in sorted(ids)],
                "id long, date string",
            )

        lk.append(df_for({0, 1}))
        lk.merge(df_for({1, 5}), on="id")  # rewrite-mode upsert
        lk.append(df_for({7}))
        assert sorted(r.id for r in lk.snapshot().collect()) == [
            0, 1, 5, 7,
        ]

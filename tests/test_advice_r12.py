"""Regression tests for the r12 ADVICE findings (round 13): string-
stat numeric-literal DML pruning, temporal auto-scope bounds,
multipart drop-feature retention scan, identity START WITH DDL, and
URL-decoded SHOW PARTITIONS."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from market_data_lakehouse_spark.sqlfront import LakeSQL
from market_data_lakehouse_spark.txnlog import TransactionalLake


class TestStringStatNumericLiteral:
    """ADVICE r12 (high): a string column's logged min/max are the
    LEXICAL endpoints, which do not bound the column's numeric
    values — file {'10','5','9'} logs ['10','9'], and a numeric
    compare of those endpoints "proved" code=5 can't match while row
    '5' does, silently skipping the file in delete/update."""

    def _lake(self, spark, tmp_path, name="ssl"):
        lk = TransactionalLake(
            spark, str(tmp_path / name), partition_by=()
        )
        lk.append(
            spark.createDataFrame(
                [("10",), ("5",), ("9",)], "code string"
            )
        )
        return lk

    def test_delete_rewrite_hits_lexical_gap_row(self, spark, tmp_path):
        lk = self._lake(spark, tmp_path)
        lk.delete_where("code = 5")
        left = {r["code"] for r in lk.snapshot().collect()}
        assert left == {"10", "9"}

    def test_delete_dv_hits_lexical_gap_row(self, spark, tmp_path):
        lk = self._lake(spark, tmp_path, "ssdv")
        lk.delete_where("code = 5", mode="dv")
        left = {r["code"] for r in lk.snapshot().collect()}
        assert left == {"10", "9"}

    def test_update_hits_lexical_gap_row(self, spark, tmp_path):
        lk = self._lake(spark, tmp_path, "ssu")
        lk.update_where("code = 5", {"code": "'50'"})
        left = sorted(r["code"] for r in lk.snapshot().collect())
        assert left == ["10", "50", "9"]

    def test_cmp_refuses_range_endpoint_allows_pointwise(self):
        # a lexical range endpoint proves nothing numerically ...
        assert TransactionalLake._bound_cmp("10", 5) is None
        # ... but a per-file-constant value is a real number
        assert TransactionalLake._bound_cmp("10", 5, pointwise=True) == 1
        assert TransactionalLake._bound_cmp("5", 5, pointwise=True) == 0

    def test_partition_fast_path_still_prunes_numeric_strings(
        self, spark, tmp_path
    ):
        """The metadata-only partition delete compares per-file-
        constant dir values — numeric compare stays allowed there."""
        lk = TransactionalLake(
            spark, str(tmp_path / "pfp"), partition_by=("code",)
        )
        lk.append(
            spark.createDataFrame(
                [("10", 1.0), ("5", 2.0), ("9", 3.0)],
                "code string, v double",
            )
        )
        v = lk.delete_where("code = 5")
        c = lk._read_commit(v)
        assert c.get("metadata_only") is True
        # partition discovery types the dir values as int
        got = {str(r["code"]) for r in lk.snapshot().collect()}
        assert got == {"10", "9"}


class TestTemporalAutoScope:
    """ADVICE r12 (medium) + r13: temporal literals derive RAW auto
    read-bounds (tz refused; the user's spelling is preserved —
    normalizing the bound itself would change what it covers under a
    string-typed reading), and the soundness lives in _bound_cmp —
    every bound-vs-stat compare normalizes BOTH sides and proves
    only when the raw-lexical and normalized orders AGREE, covering
    both type interpretations. Disagreement = conflict, never a
    fake disjointness (the lost-delete class)."""

    @pytest.mark.parametrize(
        "lit",
        [
            "'2024-06-01 00:00:00+09:00'",
            "'2024-06-01 00:00:00Z'",
        ],
    )
    def test_tz_literals_derive_nothing(self, lit):
        assert (
            TransactionalLake._derive_read_bounds([("ts", ">=", lit)])
            is None
        )

    def test_naive_iso_literals_derive_raw(self):
        """Bounds keep the user's ORIGINAL spelling (normalizing the
        bound would change which rows it covers under a string-typed
        reading of the column); _bound_cmp normalizes at compare
        time and proves only when raw and normalized orders agree."""
        rb = TransactionalLake._derive_read_bounds(
            [("ts", ">=", "'2024-06-01T00:00:00'")]
        )
        assert rb == {"ts": ("2024-06-01T00:00:00", None)}
        rb = TransactionalLake._derive_read_bounds(
            [("d", "<=", "'2024-06-01'")]
        )
        assert rb == {"d": (None, "2024-06-01")}

    def test_plain_string_and_numeric_still_derive(self):
        rb = TransactionalLake._derive_read_bounds(
            [("sym", "=", "'AAPL'"), ("px", ">=", "10")]
        )
        assert rb == {"sym": ("AAPL", "AAPL"), "px": (10, None)}

    def test_bound_cmp_refuses_ambiguity(self):
        cmp = TransactionalLake._bound_cmp
        # same instant, different spelling: normalized EQUAL but raw
        # lexical differs -> type-dependent verdict -> cannot prove
        assert cmp("2024-06-01T06:00:00", "2024-06-01 06:00:00") is None
        # same spelling: provable
        assert cmp("2024-06-01 06:00:00", "2024-06-01 05:00:00") == 1
        # mixed spelling, DIFFERENT days: raw and normalized agree
        assert cmp("2024-06-02 09:00:00", "2024-06-01T23:00:00") == 1
        # mixed spelling, same day, order flips between raw (' '<'T')
        # and normalized (23:00 > 01:00): cannot prove
        assert cmp("2024-06-01 23:00:00", "2024-06-01T01:00:00") is None
        # proper prefix (sub-second width): cannot prove
        assert cmp("2024-06-01 00:00:00.5", "2024-06-01 00:00:00") is None
        # tz suffix: cannot prove
        assert cmp("2024-06-01 00:00:00Z", "2024-06-01 00:00:00") is None
        # numeric-string lexical/numeric disagreement: cannot prove
        assert cmp("10", "5") is None
        # mixed type: cannot prove
        assert cmp("10", 5) is None
        # a date-only stat (a DATE column) against a bound with a time
        # part: the midnight reading says below, the truncated-date
        # reading (Spark casts the bound to a date) says equal
        assert cmp("2024-01-01", "2024-01-01 10:00:00") is None
        # every reading agrees the next day is above
        assert cmp("2024-01-02", "2024-01-01 10:00:00") == 1

    def test_matching_append_conflicts_even_with_t_spelling(
        self, spark, tmp_path
    ):
        """The lost-delete hazard: stats carry 'T'-separated strings,
        the derived bound is ' '-separated — the matching concurrent
        append must CONFLICT, not be 'proven' disjoint."""
        lk = TransactionalLake(
            spark, str(tmp_path / "tcc"), partition_by=()
        )
        df = spark.createDataFrame(
            [("2024-06-01T05:00:00", 1.0)], "ts string, v double"
        )
        lk.append(df)
        old, _schemas, read_v, _dvs = lk._snapshot_state()
        # interleave an append whose rows DO match the predicate
        lk.append(
            spark.createDataFrame(
                [("2024-06-01T06:00:00", 2.0)], "ts string, v double"
            )
        )
        rb = lk._auto_read_bounds("ts >= '2024-06-01 00:00:00'", None)
        assert rb == {"ts": ("2024-06-01 00:00:00", None)}
        with pytest.raises(RuntimeError, match="concurrent|advanced"):
            lk._commit(
                {"op": "delete", "predicate": "x", "add": [],
                 "remove": list(old)},
                read_version=read_v,
                read_bounds=rb,
            )

    def test_disjoint_append_rebases_with_temporal_scope(
        self, spark, tmp_path
    ):
        """The win the normalization buys: a concurrent append whose
        stats prove its rows fall OUTSIDE the temporal scope rebases
        instead of failing — 'delete yesterday' no longer conflicts
        with today's ingest."""
        lk = TransactionalLake(
            spark, str(tmp_path / "trb"), partition_by=()
        )
        lk.append(
            spark.createDataFrame(
                [("2024-06-01 05:00:00", 1.0),
                 ("2024-06-01 06:00:00", 2.0)],
                "ts string, v double",
            )
        )

        orig_state = lk._snapshot_state

        def interleave(*a, **kw):
            out = orig_state(*a, **kw)
            if not getattr(interleave, "done", False):
                interleave.done = True
                lk.append(
                    spark.createDataFrame(
                        [("2024-06-02 09:00:00", 3.0)],
                        "ts string, v double",
                    )
                )
            return out

        lk._snapshot_state = interleave  # type: ignore
        try:
            lk.delete_where(
                "ts >= '2024-06-01 00:00:00' AND "
                "ts <= '2024-06-01 23:59:59'"
            )
        finally:
            lk._snapshot_state = orig_state  # type: ignore
        got = sorted(r.ts for r in lk.snapshot().collect())
        # June 1 rows deleted; the interleaved June 2 row SURVIVES
        # and the delete rebased over it instead of raising
        assert got == ["2024-06-02 09:00:00"]


class TestMultipartDropScansAllRetained:
    """ADVICE r12 (low): drop_feature('multipart-checkpoint') must
    refuse while ANY retained checkpoint root is sharded (or stray
    part files remain) — an old build time-travelling through an
    older sharded root resolves an empty live set."""

    def test_old_sharded_root_blocks_until_vacuum(self, spark, tmp_path):
        lk = TransactionalLake(
            spark, str(tmp_path / "mpd"), partition_by=(),
            checkpoint_every=1,
        )
        df = spark.createDataFrame([("A", 1.0)], "s string, v double")
        lk.append(df)
        lk.set_properties({"checkpoint.partSize": "1"})
        for _ in range(2):
            lk.append(df)  # sharded checkpoints land
        lk.set_properties({"checkpoint.partSize": None})
        lk.append(df)  # newest checkpoint is single-file again
        # newest is clean, but older sharded roots are retained
        with pytest.raises(ValueError, match="sharded"):
            lk.drop_feature("multipart-checkpoint")
        lk.checkpoint()
        lk.vacuum_log()
        lk.drop_feature("multipart-checkpoint")
        assert "multipart-checkpoint" not in lk.table_features()

    def test_checkpoint_method(self, spark, tmp_path):
        lk = TransactionalLake(
            spark, str(tmp_path / "ckm"), partition_by=(),
            checkpoint_every=0,  # scheduled writes disabled
        )
        assert lk.checkpoint() == -1  # empty log: nothing to fold
        lk.append(
            spark.createDataFrame([("A", 1.0)], "s string, v double")
        )
        v = lk.checkpoint()
        assert v == lk.version
        assert os.path.exists(
            os.path.join(lk.log_path, f"{v:08d}.checkpoint")
        )


class TestIdentityStartDDL:
    """ADVICE r12 (low): SHOW CREATE TABLE must replay the declared
    START WITH, not a hardcoded 0."""

    def test_show_create_emits_recorded_start(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE sidl (rid BIGINT GENERATED ALWAYS AS "
            "IDENTITY (START WITH 1000 INCREMENT BY 5), s STRING) "
            f"LOCATION '{tmp_path / 'sidl'}'"
        )
        stmt = fr.sql("SHOW CREATE TABLE sidl").collect()[0][
            "createtab_stmt"
        ]
        assert "START WITH 1000 INCREMENT BY 5" in stmt
        assert "START WITH 0" not in stmt

    def test_show_create_start_only(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE sso (rid BIGINT GENERATED ALWAYS AS "
            "IDENTITY (START WITH 7), s STRING) "
            f"LOCATION '{tmp_path / 'sso'}'"
        )
        stmt = fr.sql("SHOW CREATE TABLE sso").collect()[0][
            "createtab_stmt"
        ]
        assert "START WITH 7" in stmt

    def test_emitted_ddl_replays_sequence(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE srcid (rid BIGINT GENERATED ALWAYS AS "
            "IDENTITY (START WITH 100 INCREMENT BY 3), s STRING) "
            f"LOCATION '{tmp_path / 'srcid'}'"
        )
        stmt = fr.sql("SHOW CREATE TABLE srcid").collect()[0][
            "createtab_stmt"
        ]
        replay = stmt.replace("srcid", "replayed").replace(
            str(tmp_path / "srcid"), str(tmp_path / "replayed")
        )
        fr.sql(" ".join(replay.split()))
        fr.sql("INSERT INTO replayed VALUES ('a'), ('b')")
        ids = sorted(
            r["rid"]
            for r in fr.sql("SELECT rid FROM replayed").collect()
        )
        assert ids == [100, 103]


class TestShowPartitionsDecoded:
    """ADVICE r12 (low): partitions() lists URL-DECODED values (the
    representation predicates compare against) and maps the hive
    NULL sentinel to SQL NULL."""

    def test_encoded_value_lists_decoded(self, spark, tmp_path):
        lk = TransactionalLake(
            spark, str(tmp_path / "enc"), partition_by=("sym",)
        )
        lk.append(
            spark.createDataFrame(
                [("A B", 1.0), ("C=D", 2.0)], "sym string, v double"
            )
        )
        got = sorted(r["sym"] for r in lk.partitions().collect())
        assert got == ["A B", "C=D"]
        # and the listed value is what a predicate delete matches
        lk.delete_where("sym = 'A B'")
        assert [r["sym"] for r in lk.partitions().collect()] == ["C=D"]

    def test_null_partition_lists_as_null(self, spark, tmp_path):
        lk = TransactionalLake(
            spark, str(tmp_path / "np"), partition_by=("sym",)
        )
        lk.append(
            spark.createDataFrame(
                [(None, 1.0), ("X", 2.0)], "sym string, v double"
            )
        )
        got = [r["sym"] for r in lk.partitions().collect()]
        assert got == [None, "X"]


class TestRawBoundStringColumnSoundness:
    """Review find r13: a 'T'-spelled literal's derived bound stays
    RAW — normalizing it would change which rows it covers under a
    STRING-typed reading of the column ('2024-01-05 23:00' < 'T'
    form lexically, so the row MATCHES a `< T-literal` delete)."""

    def test_t_literal_bound_never_fakes_disjoint(self, spark, tmp_path):
        lk = TransactionalLake(
            spark, str(tmp_path / "rawb"), partition_by=()
        )
        lk.append(
            spark.createDataFrame(
                [("2024-01-04 12:00:00", 1.0)], "d string, v double"
            )
        )
        rb = lk._auto_read_bounds("d < '2024-01-05T01:00:00'", None)
        assert rb == {"d": (None, "2024-01-05T01:00:00")}
        # a concurrent file whose ' '-spelled stats look disjoint
        # under the TEMPORAL reading (23:00 > 01:00) still matches
        # under the STRING reading (' ' < 'T') -> must be may-match
        assert lk._added_file_may_match(
            "f.parquet",
            {"d": ["2024-01-05 23:00:00", "2024-01-05 23:30:00"]},
            rb,
        ) is True
        # genuinely disjoint under BOTH readings: provable
        assert lk._added_file_may_match(
            "g.parquet",
            {"d": ["2024-01-06 09:00:00", "2024-01-06 10:00:00"]},
            rb,
        ) is False

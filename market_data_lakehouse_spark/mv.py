"""Incrementally-maintained aggregate views over a TransactionalLake.

The reference README sells a lakehouse with CDC ("change data feed
for downstream consumers", /root/reference/README.md:174); the
canonical downstream consumer is an aggregate table kept in sync
without recomputation — Delta/Databricks' materialized-view pattern.
This module closes the loop using only machinery the lake already
has:

- **Source of deltas**: ``TransactionalLake.read_changes`` emits each
  commit's rows as +inserts/-deletes (copy-on-write rewrites emit a
  delete+insert pair for untouched survivors, which cancels in any
  linear aggregate — so appends, deletes, updates, merges and even
  RESTOREs all fold correctly with no special cases).
- **State**: the view itself is a TransactionalLake holding one row
  per group with linear partial aggregates (row count, per-column
  non-null count and sum). The view is therefore ACID, time-travels,
  compacts, and CDC-feeds like any other table — a refresh is one
  atomic MERGE commit touching only files with affected groups.
- **Exactly-once**: the refresh MERGE rides the lake's app-txn
  contract as ``txn=(mv_app_id, source_version)``, so the last
  folded source version is recovered from the view's own log
  (``last_txn_version``) and a replayed/raced refresh of the same
  span is skipped — no side-channel watermark file to lose.

Scale shape: a refresh reads ONLY the commits after the last folded
version, shuffles the delta once on the group keys (map-side
combined), joins it against current state (left-outer, delta side is
the small side), and merges — cost is O(changed rows + affected
groups), never O(source). Groups whose row count returns to zero are
kept as tombstones in state and filtered from ``view()`` (full
recompute parity), reclaimed by an ordinary ``delete_where``.

Only LINEAR aggregates are self-maintainable under deletes: count,
sum, and anything derived from them (avg = sum / non-null count).
min/max are not invertible, so ``minmax_cols`` maintains them by
recomputing exactly the groups a delete touched. A ratio of sums
derives at read time from its partials: for VWAP, declare
``notional = price * volume`` as a generated column on the source,
maintain ``sum_cols=["notional", "volume"]`` and read
``sum_notional / sum_volume``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from market_data_lakehouse_spark.localrel import arrow_df
from market_data_lakehouse_spark.txnlog import TransactionalLake


class IncrementalAggView:
    """One-table aggregate view: ``SELECT group_by, COUNT(*),
    SUM(c)..., AVG(c)... FROM source GROUP BY group_by`` maintained
    incrementally from the source's CDC feed.

    ``sum_cols``: numeric columns to maintain SUM/AVG for. Integer
    source columns stay exact under any fold order; double columns
    carry the usual float-summation caveat (round at read, or
    pre-scale money to integer cents — see queries/money.py).

    ``minmax_cols``: columns to maintain MIN/MAX for via HYBRID
    maintenance — min/max are not invertible under deletes, so the
    fold is incremental only while a group's span contains pure
    inserts (least/greatest against the stored value); any group a
    delete touched is recomputed from the source restricted to
    exactly those groups (a broadcast-semi-joined scan, the standard
    materialized-view answer — cost tracks delete-touched groups,
    never the table; an update counts as delete+insert and triggers
    the recompute, which is what makes it correct when the old
    extremum was the updated row).
    """

    def __init__(
        self,
        spark: SparkSession,
        source: TransactionalLake,
        path: str,
        group_by: list[str] | tuple[str, ...],
        sum_cols: list[str] | tuple[str, ...] = (),
        minmax_cols: list[str] | tuple[str, ...] = (),
    ) -> None:
        self.spark = spark
        self.source = source
        self.group_by = list(group_by)
        self.sum_cols = list(sum_cols)
        self.minmax_cols = list(minmax_cols)
        if not self.group_by:
            raise ValueError("group_by must name at least one column")
        # group-keyed state table; no date partitioning — group keys
        # are the identity, layout is flat (compact() handles files)
        self.state = TransactionalLake(spark, path, partition_by=())
        self.app_id = f"mv:{source.path}"

    # ------------------------------------------------------------------
    @property
    def last_folded_version(self) -> int:
        """Highest source commit version already folded into state
        (-1 = never refreshed) — read from the view's own commit log,
        so it survives restarts and races exactly like a streaming
        sink's batch id."""
        return self.state.last_txn_version(self.app_id)

    def refresh(self) -> int:
        """Fold all source commits newer than the last refresh into
        the state table as ONE atomic MERGE commit. Returns the
        source version now reflected (no-op when already current)."""
        end = self.source.version
        start = self.last_folded_version + 1
        if end < start:
            return end
        # a writer racing this refresh may commit while we read;
        # bound the feed to the span we will record as folded
        ch = self.source.read_changes(start, ending_version=end)
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        is_ins = F.col("_change_type") == "insert"
        # NULL group keys never equality-match in the state MERGE
        # (SQL null semantics), so a null-keyed group would INSERT a
        # fresh state row on every refresh and silently accumulate —
        # fail loudly instead (same caveat as Delta MERGE keys;
        # pre-coalesce nulls to a sentinel upstream if needed)
        null_key = F.lit(False)
        for k in self.group_by:
            null_key = null_key | F.col(k).isNull()
        ch = ch.withColumn("_null_key", null_key)
        delta = ch.groupBy(*self.group_by).agg(
            F.max(F.col("_null_key").cast("int")).alias("_has_null_key"),
            F.sum(sign).alias("_d_n"),
            *[
                m
                for c in self.sum_cols
                for m in (
                    F.sum(
                        F.when(F.col(c).isNotNull(), sign).otherwise(0)
                    ).alias(f"_d_nn_{c}"),
                    F.sum(
                        sign * F.coalesce(F.col(c), F.lit(0))
                    ).alias(f"_d_sum_{c}"),
                )
            ],
            *(
                [F.max((~is_ins).cast("int")).alias("_d_has_del")]
                if self.minmax_cols
                else []
            ),
            *[
                m
                for c in self.minmax_cols
                for m in (
                    F.min(F.when(is_ins, F.col(c))).alias(f"_ins_min_{c}"),
                    F.max(F.when(is_ins, F.col(c))).alias(f"_ins_max_{c}"),
                )
            ],
        )
        if self.minmax_cols:
            # hybrid min/max: groups a delete touched are recomputed
            # from the source, restricted to exactly those groups
            del_keys = delta.filter(F.col("_d_has_del") == 1).select(
                *self.group_by
            )
            recomp = (
                # pin to `end` so min/max reflect the same source
                # version as the count/sum fold (a writer racing this
                # refresh must not leak newer rows into min/max only)
                self.source.snapshot(version=end)
                .join(F.broadcast(del_keys), self.group_by, "left_semi")
                .groupBy(*self.group_by)
                .agg(
                    *[
                        m
                        for c in self.minmax_cols
                        for m in (
                            F.min(c).alias(f"_rc_min_{c}"),
                            F.max(c).alias(f"_rc_max_{c}"),
                        )
                    ]
                )
            )
            delta = delta.join(recomp, self.group_by, "left_outer")
        if self.state.version >= 0:
            cur = self.state.snapshot()
            joined = delta.join(cur, self.group_by, "left_outer")
        else:
            # first refresh: null state columns typed from the delta
            # itself (sum type follows the source column — integer
            # sums stay integer-exact, doubles stay double)
            dtypes = dict(delta.dtypes)
            cur_cols = [("n_rows", "bigint")] + [
                m
                for c in self.sum_cols
                for m in (
                    (f"nn_{c}", "bigint"),
                    (f"sum_{c}", dtypes[f"_d_sum_{c}"]),
                )
            ] + [
                m
                for c in self.minmax_cols
                for m in (
                    (f"min_{c}", dtypes[f"_ins_min_{c}"]),
                    (f"max_{c}", dtypes[f"_ins_max_{c}"]),
                )
            ]
            joined = delta
            for name, typ in cur_cols:
                joined = joined.withColumn(name, F.lit(None).cast(typ))
        zero = F.lit(0)
        new_state = joined.select(
            F.col("_has_null_key"),
            *self.group_by,
            (F.coalesce(F.col("n_rows"), zero) + F.col("_d_n"))
            .cast("bigint")
            .alias("n_rows"),
            *[
                m
                for c in self.sum_cols
                for m in (
                    (
                        F.coalesce(F.col(f"nn_{c}"), zero)
                        + F.col(f"_d_nn_{c}")
                    )
                    .cast("bigint")
                    .alias(f"nn_{c}"),
                    (
                        F.coalesce(F.col(f"sum_{c}"), zero)
                        + F.col(f"_d_sum_{c}")
                    ).alias(f"sum_{c}"),
                )
            ],
            *[
                m
                for c in self.minmax_cols
                for m in (
                    F.when(
                        F.col("_d_has_del") == 1, F.col(f"_rc_min_{c}")
                    )
                    .otherwise(
                        F.least(F.col(f"min_{c}"), F.col(f"_ins_min_{c}"))
                    )
                    .alias(f"min_{c}"),
                    F.when(
                        F.col("_d_has_del") == 1, F.col(f"_rc_max_{c}")
                    )
                    .otherwise(
                        F.greatest(F.col(f"max_{c}"), F.col(f"_ins_max_{c}"))
                    )
                    .alias(f"max_{c}"),
                )
            ],
        )
        # one pass over the small delta state: under the broadcast
        # threshold it is collected once as Arrow, the guard reads it
        # as a LocalRelation and the MERGE gets its keyed rows as an
        # arrow_df frame, both with no further job (the state table
        # has no generated column and takes new_state's own types,
        # so the frame reaches the merge's source pass unchanged);
        # above it, a checkpoint lets the guard's probe pay the
        # pipeline's materialization and the merge reuse it
        small = self.state._collect_small(new_state)
        if small is None:
            new_state = new_state.localCheckpoint(eager=False)
        else:
            new_state = self.spark.createDataFrame(small[0], new_state.schema)
        # Null-key guard, on NET effect only: a null-keyed group whose
        # delta fully cancelled (insert+delete pairs already in
        # history — e.g. the offending rows were deleted AFTER a
        # rejected refresh) must not wedge the view forever, since the
        # historical null rows are immutable and re-fold on every
        # retry. Null keys never match the state left-outer join, so
        # for these groups n_rows/nn/sum ARE the span's net deltas;
        # all-zero ⇒ the source currently holds no null-keyed rows and
        # the group is simply dropped before the MERGE.
        net_nonzero = F.col("n_rows") != 0
        for c in self.sum_cols:
            net_nonzero = (
                net_nonzero
                | (F.col(f"nn_{c}") != 0)
                | (F.col(f"sum_{c}") != 0)
            )
        offending = (F.col("_has_null_key") == 1) & net_nonzero
        if new_state.filter(offending).limit(1).collect():
            raise ValueError(
                "group_by columns contain NULLs: null keys never "
                "equality-match in the state MERGE and would duplicate "
                "state rows on every refresh — pre-coalesce nulls to a "
                "sentinel value in the source (or delete the null-keyed "
                "rows; a refresh whose null-key changes fully cancel "
                "proceeds)"
            )
        if small is None:
            keyed = new_state.filter(F.col("_has_null_key") != 1).drop(
                "_has_null_key"
            )
        else:
            import pyarrow.compute as pc

            tbl = small[0]
            keyed = arrow_df(
                self.spark,
                tbl.filter(pc.not_equal(tbl["_has_null_key"], 1)).drop_columns(
                    ["_has_null_key"]
                ),
                StructType(
                    [
                        f
                        for f in new_state.schema.fields
                        if f.name != "_has_null_key"
                    ]
                ),
            )
        self.state.merge(
            keyed,
            on=self.group_by,
            validate_keys=False,  # grouped by key: unique by construction
            txn=(self.app_id, end),
        )
        return end

    def view(self) -> DataFrame:
        """Finalized aggregates: one row per group currently present
        in the source (zero-count tombstones filtered), with SQL
        semantics — SUM/AVG are NULL for all-null groups."""
        if self.state.version < 0:
            raise ValueError("view never refreshed: call refresh() first")
        st = self.state.snapshot().filter(F.col("n_rows") > 0)
        return st.select(
            *self.group_by,
            F.col("n_rows"),
            *[
                m
                for c in self.sum_cols
                for m in (
                    F.when(F.col(f"nn_{c}") > 0, F.col(f"sum_{c}"))
                    .alias(f"sum_{c}"),
                    F.when(
                        F.col(f"nn_{c}") > 0,
                        F.col(f"sum_{c}") / F.col(f"nn_{c}"),
                    ).alias(f"avg_{c}"),
                )
            ],
            *[
                m
                for c in self.minmax_cols
                for m in (
                    F.col(f"min_{c}"),
                    F.col(f"max_{c}"),
                )
            ],
        )

    def vacuum_tombstones(self) -> int:
        """Drop zero-count group rows from state (an ordinary logged
        delete; purely a space optimization — view() already filters
        them)."""
        return self.state.delete_where("n_rows = 0")

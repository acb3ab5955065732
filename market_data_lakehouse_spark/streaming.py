"""Structured Streaming layer — SURVEY §2.10 (S9, T1-T5).

The reference's headline ingestion story is a 1M-event ring buffer
flushed every 100 ms / 10 MB to columnar storage
(/root/reference/README.md:36-37, 50, 127), with zero actual
concurrency in its code. Spark's micro-batch engine subsumes the
ring buffer: ``readStream`` sources buffer arriving data, a
``trigger(processingTime="100ms")`` drains it on the reference's
cadence, and ``foreachBatch`` reuses the exact batch ingest path
(validation split + DLQ + partitioned append) — one code path for
batch and streaming.

Scale posture: state stores (window aggs, dedup) are partitioned by
the grouping key across executors; watermarks bound state size; a
real deployment adds checkpointing to durable storage (paths are
parameters here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_data_lakehouse_spark.lakehouse import DataLakehouse
from market_data_lakehouse_spark.schema import BAR_SCHEMA, TICK_SCHEMA

DEFAULT_TRIGGER_MS = 100  # reference README.md:37 flush cadence


def read_bar_stream(
    spark: SparkSession, source_dir: str, fmt: str = "json"
) -> DataFrame:
    """File-source stream of OHLCV bars (the ring-buffer analog:
    arriving files are the producer side)."""
    reader = spark.readStream.schema(BAR_SCHEMA)
    if fmt == "csv":
        return reader.option("header", True).csv(source_dir)
    return reader.json(source_dir)


def read_tick_stream(
    spark: SparkSession, source_dir: str, fmt: str = "json"
) -> DataFrame:
    reader = spark.readStream.schema(TICK_SCHEMA)
    if fmt == "csv":
        return reader.option("header", True).csv(source_dir)
    return reader.json(source_dir)


def stream_ingest(
    stream: DataFrame,
    lake: DataLakehouse,
    checkpoint_dir: str,
    trigger_ms: int = DEFAULT_TRIGGER_MS,
    available_now: bool = False,
):
    """Micro-batch ingest into the lakehouse (T1): every trigger, the
    accumulated events go through the SAME validated append as batch
    ingest (valid/invalid split, DLQ, date-partitioned write) —
    ``foreachBatch`` is the streaming twin of ``ingest_batch``, so
    each non-empty micro-batch is one commit to the lake's
    transaction log (a batch with no valid row commits nothing).

    ``available_now=True`` drains the current source contents and
    stops (for tests / backfills); otherwise runs a 100 ms
    processing-time trigger like the reference's flush cadence.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        lake.ingest_batch(batch_df)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_ms} milliseconds")
    return writer.start()


def stream_upsert(
    stream: DataFrame,
    lake,
    on: tuple[str, ...] | str,
    checkpoint_dir: str,
    app_id: str | None = None,
    trigger_ms: int = DEFAULT_TRIGGER_MS,
    available_now: bool = False,
    mode: str = "rewrite",
    schema_evolution: bool = False,
    set_exprs: dict[str, str] | None = None,
    matched_condition: str | None = None,
):
    """Streaming CDC-apply: every micro-batch is MERGEd into a
    :class:`~market_data_lakehouse_spark.txnlog.TransactionalLake`
    (matched keys updated, new keys inserted) — the upsert twin of
    ``stream_ingest``'s append sink. Exactly-once under restart: the
    batch id rides the commit as ``txn=(app_id, batch_id)``, so a
    replayed foreachBatch whose merge already committed is skipped
    (Delta's idempotent-sink contract). Late duplicates WITHIN one
    batch would make the update nondeterministic, so the batch is
    deduplicated per key first (keep-max over the remaining columns
    — deterministic, order-free).

    ``app_id`` defaults to a hash of the checkpoint dir: batch ids
    restart at 0 for every new checkpoint, so a FIXED default id
    would make a second stream writing to the same lake silently
    skip its first batches as "already committed" replays. Pass an
    explicit app_id only to make an intentional replay domain (the
    exactly-once test does).

    ``mode="dv"`` routes each batch through the merge-on-read MERGE:
    a trickle of small upserts then never rewrites large files — the
    per-batch cost is O(batch rows), with ``optimize()`` (or the
    ingest sink's compaction cycle) materializing the accumulated
    vectors out-of-band.

    ``schema_evolution`` (Delta streaming autoMerge parity): a
    source stream that starts carrying a new column evolves the
    target table in the first batch that delivers it, instead of
    killing the query.

    ``set_exprs`` / ``matched_condition`` (r13): the per-column
    ``UPDATE SET col = expr`` and ``WHEN MATCHED AND cond`` forms,
    passed through to each batch's merge — the CDC-apply shape where
    an update must be conditional (e.g. apply only newer versions:
    ``matched_condition="source.ver > ver"``) or partial (touch only
    the changed columns)."""
    import hashlib

    keys = [on] if isinstance(on, str) else list(on)
    if app_id is None:
        app_id = "stream_upsert-" + hashlib.md5(
            checkpoint_dir.encode()
        ).hexdigest()[:12]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cols = [c for c in batch_df.columns if c not in keys]
        if not cols:
            # every column is a key: nothing to keep-max over
            # (F.struct() with zero fields raises) — plain key dedup
            deduped = batch_df.dropDuplicates(keys)
        else:
            deduped = batch_df.groupBy(*keys).agg(
                F.max(F.struct(*cols)).alias("_r")
            ).select(*keys, *[F.col(f"_r.{c}").alias(c) for c in cols])
        lake.merge(
            deduped, on=keys, validate_keys=False,
            txn=(app_id, batch_id), mode=mode,
            schema_evolution=schema_evolution,
            set_exprs=set_exprs,
            matched_condition=matched_condition,
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_ms} milliseconds")
    return writer.start()


def streaming_ohlcv_bars(
    ticks: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling (or sliding, T3) window bar-building — the
    streaming twin of a5_ohlcv_resample (T2/T4). open/close are
    min/max over (ts, price) structs: deterministic first/last by
    event time, supported inside streaming aggregation state.

    Late data beyond ``watermark`` is dropped and the window's state
    is finalized — the bar-finality vs late-data trade-off is exactly
    the watermark choice (SURVEY §7.4c)."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        ticks.withWatermark("ts", watermark)
        .groupBy(F.col("symbol"), win.alias("w"))
        .agg(
            F.min(F.struct(F.col("ts"), F.col("price")))["price"].alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max(F.struct(F.col("ts"), F.col("price")))["price"].alias("close"),
            F.sum("volume").alias("volume"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            "symbol",
            F.col("w.start").alias("bar_start"),
            F.col("w.end").alias("bar_end"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_ticks",
        )
    )


def streaming_session_windows(
    ticks: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Session windows (T3): per-symbol activity bursts separated by
    >= gap of silence."""
    return (
        ticks.withWatermark("ts", watermark)
        .groupBy(F.col("symbol"), F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_ticks"), F.sum("volume").alias("volume"))
        .select(
            "symbol",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_ticks",
            "volume",
        )
    )


def stream_ingest_transactional(
    stream: DataFrame,
    lake,
    checkpoint_dir: str,
    trigger_ms: int = DEFAULT_TRIGGER_MS,
    available_now: bool = False,
    optimize_every: int | None = None,
    refresh_views: list | None = None,
):
    """Streaming ACID sink (S8+S9): every micro-batch becomes one
    atomic commit in a :class:`TransactionalLake`, tagged with the
    micro-batch id via the lake's txn contract — a replayed batch
    (foreachBatch is at-least-once) is detected and skipped, so the
    sink is effectively exactly-once. Readers see each batch entirely
    or not at all, and the commit history doubles as a CDC feed of
    the stream (reference README.md:43/174 in one mechanism).

    ``optimize_every=N``: run ``lake.optimize()`` after every N
    appended batches — the small-file problem is INHERENT to
    micro-batch sinks (one commit -> >= 1 file per partition per
    trigger; a day of 100 ms triggers is ~1M files), so compaction
    must ride the ingest loop, not wait for a nightly job. The
    optimize is its own atomic commit: concurrent readers never see a
    partial swap, and a crash between append and optimize just leaves
    compaction for the next cycle. Retried batches (txn-skipped)
    don't advance the cycle counter.

    Per-batch cost is ONE Spark job: ``append(skip_empty=True)``
    folds the empty-batch check and CHECK-constraint enforcement
    into the write job's ``observe()`` metrics (the pre-r6 sink paid
    a separate ``isEmpty()`` job plus a constraint aggregate per
    trigger — 3 jobs where the data supports 1; measured 1.35 s ->
    sub-900 ms mean batch latency on a 150 k-row micro-batch).

    ``refresh_views``: :class:`~market_data_lakehouse_spark.mv.
    IncrementalAggView` instances over this lake to refresh after
    each committed batch — live aggregate dashboards ride the ingest
    loop. Each refresh folds exactly the commits since its own
    watermark, so a crash between append and refresh (or a replayed
    batch) cannot double-count: the view catches up on the next
    trigger from its own log."""
    from pyspark.sql import functions as F

    app_id = f"stream_ingest:{checkpoint_dir}"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        before = lake.version
        v = lake.append(
            batch_df.withColumn("date", F.to_date("timestamp")),
            txn=(app_id, batch_id),
            skip_empty=True,
        )
        # data landed iff the commit carried files: an idle trigger
        # now records a data-less txn marker (Delta SetTransaction
        # parity), so a bare version check would count idle batches
        # toward the compaction cycle
        landed = v > before and bool(lake._read_commit(v).get("add"))
        if (
            optimize_every
            and landed  # replay / idle markers don't count
            and (batch_id + 1) % optimize_every == 0
        ):
            lake.optimize()
        for view in refresh_views or ():
            view.refresh()

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_ms} milliseconds")
    return writer.start()


def streaming_running_vwap(ticks: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    running (all-history) VWAP per symbol, carried across
    micro-batches in the state store. This is the pattern for
    operators Spark's built-in streaming aggregates can't express —
    arbitrary per-key state with Arrow-batched Python updates.

    State per key is two doubles (sum of price*volume, sum of
    volume) — O(keys), never O(events): the state store stays tiny no
    matter how long the stream runs."""
    import pandas as pd  # noqa: F401  (worker-side import)

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("symbol", T.StringType()),
            T.StructField("vwap", T.DoubleType()),
            T.StructField("total_volume", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("sum_pv", T.DoubleType()),
            T.StructField("sum_v", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        sum_pv, sum_v = state.get if state.exists else (0.0, 0.0)
        for pdf in pdfs:
            sum_pv += float((pdf["price"] * pdf["volume"]).sum())
            sum_v += float(pdf["volume"].sum())
        state.update((sum_pv, sum_v))
        import pandas as pd

        yield pd.DataFrame(
            {
                "symbol": [key[0]],
                "vwap": [sum_pv / sum_v if sum_v else None],
                "total_volume": [int(sum_v)],
            }
        )

    return ticks.groupBy("symbol").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming dedup (T5, reference README.md:41): exactly-once per
    key within the watermark horizon. State is bounded by the
    watermark: a key's entry is dropped once its event time falls
    behind, so the state store holds O(keys-per-horizon), not
    O(all-time keys)."""
    keys = keys or ["symbol", ts_col]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def streaming_flag_anomalies(
    ticks: DataFrame,
    stats: DataFrame,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Stream-static enrichment: join a STATIC per-symbol stats table
    (``symbol, mu, sigma`` — typically last night's batch
    ``v4_anomaly_zscore`` pass over the lake) onto the live tick
    stream and flag prints whose z-score exceeds the threshold.

    This is the third streaming join shape next to stream-stream
    (``streaming_enrich_ticks``) and foreachBatch-MERGE
    (``stream_upsert``): the static side is re-resolved and broadcast
    per micro-batch, so the operator keeps ZERO streaming state — no
    watermark, no state store — and a Delta-style static table
    refresh is picked up on the next batch. A left join keeps prints
    for symbols with no reference stats (z NULL, flagged false):
    monitoring must not drop the instruments it has no baseline for.
    """
    joined = ticks.join(F.broadcast(stats), "symbol", "left")
    z = F.when(
        F.col("sigma") > 0,
        (F.col("price") - F.col("mu")) / F.col("sigma"),
    )
    return joined.select(
        "symbol",
        "ts",
        "price",
        "volume",
        z.alias("z"),
        F.coalesce(F.abs(z) > z_threshold, F.lit(False)).alias("is_anomaly"),
    )


def streaming_enrich_ticks(
    ticks: DataFrame,
    quotes: DataFrame,
    tolerance: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream point-in-time enrichment: each tick joins every
    quote for its symbol from the preceding ``tolerance`` window —
    the streaming twin of the batch as-of join (asof.py), built on
    Spark's watermarked interval join.

    Semantics note: a true as-of join keeps only the LATEST matching
    quote; streams can't rank within a join (no window over an
    unbounded side), so this emits the qualifying quote set and the
    consumer aggregates (e.g. max_by on quote_ts downstream, or a
    foreachBatch batch as-of). What the interval join DOES give at
    scale: both state stores are bounded by watermark + tolerance —
    a quote's row is dropped from state once no future tick can still
    match it, so state is O(rate x horizon), never O(stream).

    Left-outer within watermark: a tick with no quote in its window
    still emits (NULL bid/ask) once the watermark passes — enrichment
    must not drop trades on quiet books."""
    t = ticks.withWatermark("ts", watermark).alias("t")
    q = quotes.withWatermark("ts", watermark).alias("q")
    cond = (
        (F.col("t.symbol") == F.col("q.symbol"))
        & (F.col("q.ts") <= F.col("t.ts"))
        & (F.col("q.ts") >= F.col("t.ts") - F.expr(f"interval {tolerance}"))
    )
    return t.join(q, cond, "leftOuter").select(
        F.col("t.symbol").alias("symbol"),
        F.col("t.ts").alias("ts"),
        F.col("t.price").alias("price"),
        F.col("t.volume").alias("volume"),
        F.col("q.ts").alias("quote_ts"),
        F.col("q.bid").alias("bid"),
        F.col("q.ask").alias("ask"),
    )


# ---------------------------------------------------------------------------
# Corpus streaming: the same streaming layer applied to the documents
# domain — incremental training-data ingest is a stream like any other
# ---------------------------------------------------------------------------

DOC_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_document_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-arrival document stream (JSONL drops from a crawler /
    upstream pipeline): each micro-batch is the newly arrived files,
    bounded by ``maxFilesPerTrigger`` so one giant drop cannot blow
    the batch. Pairs with ``stream_upsert(..., on="doc_id")`` for
    exactly-once dedup-on-ingest into a TransactionalLake corpus."""
    return (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )


def streaming_corpus_stats(docs: DataFrame) -> DataFrame:
    """Running per-source corpus statistics over a document stream:
    doc count, whitespace-token total, mean doc length — the live
    dashboard a corpus-ingest pipeline watches. Complete-mode
    aggregate: per-source state is one row of partial sums (tiny,
    bounded by source cardinality), and every micro-batch folds in
    map-side combined — the streaming twin of the batch
    ``e6_hash_split``-style corpus reductions."""
    n_tok = F.when(
        F.coalesce(F.trim(F.col("text")), F.lit("")) == "", F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+"))).cast("long")
    return (
        docs.select("source", n_tok.alias("n_tok"), F.length("text").alias("n_chars"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias(
                "avg_chars"
            ),
        )
    )


def streaming_max_drawdown(ticks: DataFrame) -> DataFrame:
    """Custom stateful operator: per-symbol running price peak and
    maximum drawdown carried across micro-batches — the streaming
    twin of the batch ``w8_max_drawdown``, and not expressible with
    built-in streaming aggregates (drawdown depends on the running
    peak, an order-sensitive intermediate no sum/max composition
    yields).

    State per key is two doubles (peak, max_dd): O(keys), never
    O(events). Each batch's rows are folded VECTORIZED — sort by
    event time, one ``np.maximum.accumulate`` for the running peak
    seeded with the carried-in state, one array expression for the
    drawdowns — no per-row Python. Cross-batch order is arrival
    order, the inherent streaming-drawdown contract.

    API note: built on ``applyInPandasWithState``. Spark 4's
    successor surface (``transformWithStateInPandas``: typed
    value/list/map state, timers, TTL, state evolution) expresses
    the same processor 1:1, but its state protocol speaks protobuf
    from the Python worker and the ``protobuf`` wheel is not
    available in this environment — the older API carries identical
    semantics for this operator and runs everywhere Arrow does."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("symbol", T.StringType()),
            T.StructField("peak", T.DoubleType()),
            T.StructField("max_drawdown", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("peak", T.DoubleType()),
            T.StructField("max_dd", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        peak, max_dd = state.get if state.exists else (float("-inf"), 0.0)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            prices = pdf.sort_values("ts")["price"].to_numpy(dtype=np.float64)
            run_peak = np.maximum.accumulate(
                np.concatenate(([peak], prices))
            )[1:]
            dd = (run_peak - prices) / run_peak
            max_dd = max(max_dd, float(np.nanmax(dd)))
            peak = float(run_peak[-1])
        state.update((peak, max_dd))
        yield pd.DataFrame(
            {"symbol": [key[0]], "peak": [peak], "max_drawdown": [max_dd]}
        )

    return ticks.groupBy("symbol").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_scd2(
    stream: DataFrame,
    lake,
    keys: tuple[str, ...] | str,
    ts_col: str,
    value_cols: tuple[str, ...],
    checkpoint_dir: str,
    tiebreak: str | None = None,
    app_id: str | None = None,
    trigger_ms: int = DEFAULT_TRIGGER_MS,
    available_now: bool = False,
):
    """Streaming SCD Type-2 sink: every micro-batch of change records
    folds into the dimension lake via
    :func:`market_data_lakehouse_spark.scd.scd2_apply` — version rows
    cut/closed incrementally, no-op re-statements collapsed against
    the stored current value. Exactly-once under restart: the batch id
    rides the commit as ``txn=(app_id, batch_id)``, so a replayed
    foreachBatch whose fold already committed is skipped BEFORE any
    state is read (the same idempotent-sink contract as
    :func:`stream_upsert`). The per-key in-order contract is the
    streaming source's responsibility (e.g. a keyed Kafka topic);
    out-of-order rows fail the batch loudly rather than splice
    history."""
    import hashlib

    key_list = [keys] if isinstance(keys, str) else list(keys)
    if app_id is None:
        app_id = "stream_scd2-" + hashlib.md5(
            checkpoint_dir.encode()
        ).hexdigest()[:12]

    from market_data_lakehouse_spark.scd import scd2_apply

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        scd2_apply(
            lake,
            batch_df,
            key_list,
            ts_col,
            list(value_cols),
            tiebreak=tiebreak,
            txn=(app_id, batch_id),
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_ms} milliseconds")
    return writer.start()

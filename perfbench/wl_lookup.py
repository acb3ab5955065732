"""``bar_lookup``: serving reads on a live lake, with streamed ticks and
DML beside them.

Set-up builds, from the seeded feed, (a) a ``DataLakehouse`` reference
lake by ``ingest_batch`` of five days of bars of which ~0.5% break the
OHLC invariants, and (b) a date-partitioned ``TransactionalLake``
holding the valid history compacted by ``optimize`` plus an
uncompacted tail of small commits, with one ``IncrementalAggView``
(per symbol and date) over it. A streaming query then drains a
directory into the lake through
``streaming.stream_ingest_transactional`` with ``optimize_every``
compaction and the view in ``refresh_views``, and one untimed
operation of every kind warms the code paths and adds to the tail.

The measured loop is one closed-loop client with no think time. It
runs whole cycles of fifteen operations with seeded parameters until
``--seconds`` have elapsed. A cycle is three rounds of four reads
(``DataLakehouse.query``, ``TransactionalLake.scan_between`` with a
symbol ``equals`` filter, ``LakeSQL.sql`` and a
``snapshot(version=...)`` time-travel read) each followed by one
write: a streamed micro-batch (the client drops one parquet file and
waits for its commit), a ``merge`` upsert, and a ``delete_where`` or
``update_where``. Symbols are Zipf-hot; read ranges end at a recent
instant and are one hour to three days wide.

Each read is compared with a pandas oracle that replays every write.
At the end a new ``TransactionalLake`` reopened on the same path must
equal the oracle, and the view must equal a ``groupBy`` of it.
"""

from __future__ import annotations

import os
import time
import traceback
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

import feeds
from spans import dir_files, jobs_so_far, tree_cpu_s

HIST_DAYS = 5
HIST_BARS_PER_DAY = 3_000
TAIL_COMMITS = 4
TAIL_BARS = 150
STREAM_BARS = 300
STREAM_SPAN_S = 4 * 3600  # every sixth micro-batch straddles midnight
# the timed micro-batch of each cycle is the sink's second, so with 2
# every cycle measures one compaction inside a commit
OPTIMIZE_EVERY = 2
INVALID_SHARE = 0.005
MERGE_ROWS = 40
WIDTHS_S = (3600, 4 * 3600, 86_400, 3 * 86_400)
READS = ("lookup", "scan", "sql", "timetravel")
CYCLE = (*READS, "stream", *READS, "merge", *READS, "delete_or_update")
WARMUP = (*READS, "stream", "merge", "delete", "update")
COLS = feeds.BAR_COLUMNS
_EPOCH = datetime(1970, 1, 1)


def _rows_key(rows) -> list[tuple]:
    return sorted(
        (r["symbol"], (r["timestamp"] - _EPOCH) // timedelta(microseconds=1),
         r["open"], r["high"], r["low"], r["close"], r["volume"], r["asset_class"])
        for r in (row.asDict() for row in rows)
    )


def _frame_key(df: pd.DataFrame) -> list[tuple]:
    ts = df["timestamp"].to_numpy().astype("datetime64[us]").astype("int64")
    return sorted(
        zip(df["symbol"], ts.tolist(), df["open"], df["high"], df["low"],
            df["close"], df["volume"].tolist(), df["asset_class"])
    )


def _in_range(df: pd.DataFrame, sym: str, lo: pd.Timestamp, hi: pd.Timestamp) -> pd.Series:
    return (df["symbol"] == sym) & (df["timestamp"] >= lo) & (df["timestamp"] <= hi)


def _fmt(ts: pd.Timestamp) -> str:
    return ts.strftime("%Y-%m-%d %H:%M:%S.%f")


def _bars_df(spark, pdf: pd.DataFrame):
    from pyspark.sql import functions as F

    from market_data_lakehouse_spark import BAR_SCHEMA

    return spark.createDataFrame(pdf[COLS], schema=BAR_SCHEMA).withColumn(
        "date", F.to_date("timestamp")
    )


class Lake:
    """One built copy of the served state, with its oracle: the rows
    every version of the transactional lake must hold."""

    def __init__(self, spark, root: str, feed: feeds.BarFeed) -> None:
        from pyspark.sql import functions as F

        from market_data_lakehouse_spark import BAR_SCHEMA, DataLakehouse, TransactionalLake
        from market_data_lakehouse_spark.mv import IncrementalAggView

        self.root = root
        hist = pd.concat(
            [
                feed.bars(1, d, HIST_BARS_PER_DAY,
                          feeds.FEED_START + pd.Timedelta(days=d), 86_400)
                for d in range(HIST_DAYS)
            ],
            ignore_index=True,
        )
        self.n_invalid = feed.break_invariants(hist, INVALID_SHARE, 0)
        hist_path = os.path.join(root, "history.parquet")
        os.makedirs(root)
        feeds.write_bars(hist, hist_path)
        self.ref = DataLakehouse(spark, os.path.join(root, "ref"))
        t = time.perf_counter()
        stats = self.ref.ingest_batch(spark.read.schema(BAR_SCHEMA).parquet(hist_path))
        self.bulk_ingest_s = time.perf_counter() - t
        self.ingest_errors = stats.errors
        valid = hist[hist["high"] >= hist["low"]].reset_index(drop=True)
        self.ref_oracle = valid

        self.txn = TransactionalLake(spark, os.path.join(root, "txn"))
        self.txn.append(
            spark.read.schema(BAR_SCHEMA).parquet(hist_path)
            .filter("high >= low").withColumn("date", F.to_date("timestamp"))
        )
        self.txn.optimize()
        self.oracle = valid
        self.versions = {0: valid, 1: valid}
        self.clock = feeds.FEED_START + pd.Timedelta(days=HIST_DAYS)
        for i in range(TAIL_COMMITS):
            chunk = feed.bars(2, i, TAIL_BARS, self.clock, 7200)
            v = self.txn.append(_bars_df(spark, chunk))
            self.oracle = pd.concat([self.oracle, chunk], ignore_index=True)
            self.versions[v] = self.oracle
            self.clock += pd.Timedelta(hours=2)
        # first refreshed by the first streamed micro-batch
        self.view = IncrementalAggView(
            spark, self.txn, os.path.join(root, "mv"), group_by=["symbol", "date"],
            sum_cols=["volume"],
        )


class _Progress:
    """Every micro-batch's progress, from a ``StreamingQueryListener``
    (a query's ``recentProgress`` keeps only the last 100)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    batches.append((p.numInputRows, p.durationMs.get("triggerExecution", 0)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()

    def wait_for(self, n: int, timeout_s: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait for ``n``."""
        deadline = time.perf_counter() + timeout_s
        while len(self.batches) < n and time.perf_counter() < deadline:
            time.sleep(0.02)


class Client:
    """The closed-loop client: one method per operation kind. Each
    returns after the operation's result is checked against the
    oracle; only the call into the package is timed."""

    def __init__(self, ctx, lake: Lake, feed: feeds.BarFeed) -> None:
        from market_data_lakehouse_spark.sqlfront import LakeSQL
        from market_data_lakehouse_spark.txnlog import LOG_DIR

        self.ctx, self.spark, self.tracer = ctx, ctx.spark, ctx.tracer
        self.lake, self.feed = lake, feed
        self.res = ctx.result
        self.rng = np.random.default_rng([ctx.seed, 5])
        self.front = LakeSQL(self.spark)
        self.front.register("bars", lake.txn)
        self.lake_dir = lake.txn.path
        self.log_dir = LOG_DIR
        self.ref_end = lake.ref_oracle["timestamp"].max()
        self.n_stream = 0
        self.n_merge = 0
        self.reset_tallies()

    def reset_tallies(self) -> None:
        """Per-layer tallies, filled only when tracing; the measured
        loop starts from zero."""
        self.t = dict(staged=0, written=0, rewritten=0, scanned=0, returned=0,
                      kept=0, total=0)
        self.jobs: dict[str, list[int]] = {}
        self.folded: list[int] = []

    # -- set-up of the streaming sink --------------------------------------
    def start_stream(self) -> None:
        from market_data_lakehouse_spark import BAR_SCHEMA
        from market_data_lakehouse_spark.streaming import stream_ingest_transactional

        if self.ctx.trace:
            self._wrap(self.lake.txn, "append", "txnlog.append")
            self._wrap(self.lake.txn, "optimize", "txnlog.optimize", count_bytes=True)
            inner = self.lake.view.refresh

            def refresh():
                before = self.lake.view.last_folded_version
                with self.tracer.span("mv.refresh"):
                    after = inner()
                self.folded.append(after - before)
                return after

            self.lake.view.refresh = refresh
        self.progress = _Progress()
        self.spark.streams.addListener(self.progress.listener)
        self.src_dir = os.path.join(self.lake.root, "stream_in")
        os.makedirs(self.src_dir)
        stream = (
            self.spark.readStream.schema(BAR_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(self.src_dir)
        )
        self.query = stream_ingest_transactional(
            stream, self.lake.txn, os.path.join(self.lake.root, "ckpt"),
            trigger_ms=20, optimize_every=OPTIMIZE_EVERY,
            refresh_views=[self.lake.view],
        )

    def stop_stream(self, batches: int) -> None:
        self.query.stop()
        self.progress.wait_for(batches)
        self.spark.streams.removeListener(self.progress.listener)

    def _wrap(self, obj, name: str, span: str, count_bytes: bool = False) -> None:
        """Record a span and the job count of each call the streaming
        sink makes on an object the benchmark handed it."""
        inner = getattr(obj, name)

        def call(*a, **kw):
            before = dir_files(self.lake_dir, skip=self.log_dir) if count_bytes else None
            j0 = jobs_so_far(self.spark)
            with self.tracer.span(span):
                out = inner(*a, **kw)
            self.jobs.setdefault(span, []).append(jobs_so_far(self.spark) - j0)
            if count_bytes:
                after = dir_files(self.lake_dir, skip=self.log_dir)
                self.t["rewritten"] += sum(s for p, s in after.items() if p not in before)
            return out

        setattr(obj, name, call)

    # -- one operation ------------------------------------------------------
    def do(self, kind: str, timed: bool) -> None:
        trace = self.ctx.trace
        head = self.lake.txn.version
        # bytes a micro-batch makes the lake write: data, compaction, log
        before = dir_files(self.lake_dir) if trace and kind == "stream" else None
        j0 = jobs_so_far(self.spark) if trace else 0
        try:
            secs = getattr(self, kind)()
        except Exception:
            self.res.attempted += 1
            self.res.fail(kind, traceback.format_exc(limit=3).strip().splitlines()[-1])
            return
        if timed:
            self.res.op(kind, secs, kind in READS)
        else:
            self.res.attempted += 1
        for v in range(head + 1, self.lake.txn.version + 1):
            self.lake.versions[v] = self.lake.oracle
        if trace:
            self.jobs.setdefault(kind, []).append(jobs_so_far(self.spark) - j0)
            if before is not None:
                after = dir_files(self.lake_dir)
                self.t["written"] += sum(s for p, s in after.items() if p not in before)

    def _range(self, latest: pd.Timestamp):
        sym = self.feed.symbols[self.rng.choice(feeds.N_SYMBOLS, p=self.feed.weights)]
        hi = latest - pd.Timedelta(seconds=int(self.rng.exponential(0.6 * 86_400)))
        lo = hi - pd.Timedelta(seconds=int(self.rng.choice(WIDTHS_S)))
        return sym, lo, hi

    def _check(self, kind: str, rows, expected: pd.DataFrame) -> None:
        if _rows_key(rows) != _frame_key(expected):
            self.res.fail(kind, f"{len(rows)} rows read, oracle has {len(expected)}")

    def lookup(self) -> float:
        sym, lo, hi = self._range(self.ref_end)
        t = time.perf_counter()
        with self.tracer.span("op.lookup"):
            with self.tracer.span("lakehouse.query"):
                qr = self.lake.ref.query(sym, _fmt(lo), _fmt(hi))
            with self.tracer.span("spark.collect"):
                rows = qr.bars
        secs = time.perf_counter() - t
        ref = self.lake.ref_oracle
        self._check("lookup", rows, ref[_in_range(ref, sym, lo, hi)])
        if self.ctx.trace:
            self.t["scanned"] += qr.total_rows_scanned
            self.t["returned"] += len(rows)
        return secs

    def scan(self) -> float:
        sym, lo, hi = self._range(self.lake.clock)
        bounds = {"timestamp": (_fmt(lo), _fmt(hi))}
        t = time.perf_counter()
        with self.tracer.span("op.scan"):
            with self.tracer.span("txnlog.scan_between"):
                df = self.lake.txn.scan_between(bounds, equals={"symbol": sym})
            with self.tracer.span("spark.collect"):
                rows = df.collect()
        secs = time.perf_counter() - t
        o = self.lake.oracle
        self._check("scan", rows, o[_in_range(o, sym, lo, hi)])
        if self.ctx.trace:
            kept, total, _ = self.lake.txn.prune_files(bounds, {"symbol": sym})
            self.t["kept"] += len(kept)
            self.t["total"] += total
        return secs

    def sql(self) -> float:
        sym, lo, hi = self._range(self.lake.clock)
        stmt = (
            "SELECT symbol, timestamp, open, high, low, close, volume, asset_class "
            f"FROM bars WHERE symbol = '{sym}' AND timestamp BETWEEN "
            f"TIMESTAMP '{_fmt(lo)}' AND TIMESTAMP '{_fmt(hi)}'"
        )
        t = time.perf_counter()
        with self.tracer.span("op.sql"):
            with self.tracer.span("sqlfront.sql"):
                df = self.front.sql(stmt)
            with self.tracer.span("spark.collect"):
                rows = df.collect()
        secs = time.perf_counter() - t
        o = self.lake.oracle
        self._check("sql", rows, o[_in_range(o, sym, lo, hi)])
        return secs

    def timetravel(self) -> float:
        from pyspark.sql import functions as F

        v = int(self.rng.integers(0, self.lake.txn.version + 1))
        sym, lo, hi = self._range(self.lake.clock)
        pred = (
            (F.col("symbol") == sym)
            & (F.col("timestamp") >= F.lit(_fmt(lo)).cast("timestamp"))
            & (F.col("timestamp") <= F.lit(_fmt(hi)).cast("timestamp"))
        )
        trace = self.ctx.trace
        t = time.perf_counter()
        with self.tracer.span("op.timetravel"):
            j0 = jobs_so_far(self.spark) if trace else 0
            with self.tracer.span("txnlog.snapshot"):
                df = self.lake.txn.snapshot(version=v)
            if trace:
                self.jobs.setdefault("snapshot", []).append(jobs_so_far(self.spark) - j0)
            with self.tracer.span("spark.collect"):
                rows = df.filter(pred).collect()
        secs = time.perf_counter() - t
        o = self.lake.versions[v]
        self._check(f"timetravel(version={v} of {self.lake.txn.version}, {sym}, "
                    f"{_fmt(lo)}..{_fmt(hi)})", rows, o[_in_range(o, sym, lo, hi)])
        return secs

    def stream(self) -> float:
        chunk = self.feed.bars(3, self.n_stream, STREAM_BARS,
                               self.lake.clock, STREAM_SPAN_S)
        staging = os.path.join(self.lake.root, f"batch{self.n_stream:05d}.parquet")
        feeds.write_bars(chunk, staging)
        self.t["staged"] += os.path.getsize(staging)
        t = time.perf_counter()
        with self.tracer.span("op.stream"):
            with self.tracer.span("streaming.batch"):
                os.rename(staging, os.path.join(self.src_dir, os.path.basename(staging)))
                self.query.processAllAvailable()
        secs = time.perf_counter() - t
        self.n_stream += 1
        self.lake.clock += pd.Timedelta(seconds=STREAM_SPAN_S)
        self.lake.oracle = pd.concat([self.lake.oracle, chunk], ignore_index=True)
        return secs

    def merge(self) -> float:
        o = self.lake.oracle
        pick = o.sample(n=MERGE_ROWS, random_state=int(self.rng.integers(1 << 31)))
        upd = pick.assign(close=pick["close"] + 0.25, volume=pick["volume"] + 1)
        new = self.feed.bars(4, self.n_merge, MERGE_ROWS,
                             self.lake.clock - pd.Timedelta(hours=1), 3600)
        self.n_merge += 1
        keys = pd.MultiIndex.from_frame(o[["symbol", "timestamp"]])
        new = new[~pd.MultiIndex.from_frame(new[["symbol", "timestamp"]]).isin(keys)]
        src = pd.concat([upd, new], ignore_index=True)[COLS]
        sdf = _bars_df(self.spark, src)
        t = time.perf_counter()
        with self.tracer.span("op.merge"):
            with self.tracer.span("txnlog.merge"):
                self.lake.txn.merge(sdf, on=["symbol", "timestamp"])
        secs = time.perf_counter() - t
        hit = keys.isin(pd.MultiIndex.from_frame(upd[["symbol", "timestamp"]]))
        self.lake.oracle = pd.concat([o[~hit], src], ignore_index=True)
        return secs

    def _dml(self, kind: str) -> float:
        sym, lo, hi = self._range(self.lake.clock)
        pred = (
            f"symbol = '{sym}' AND timestamp >= TIMESTAMP '{_fmt(lo)}' "
            f"AND timestamp <= TIMESTAMP '{_fmt(hi)}'"
        )
        t = time.perf_counter()
        with self.tracer.span(f"op.{kind}"):
            if kind == "delete":
                with self.tracer.span("txnlog.delete_where"):
                    self.lake.txn.delete_where(pred)
            else:
                with self.tracer.span("txnlog.update_where"):
                    self.lake.txn.update_where(pred, {"volume": "volume + 7"})
        secs = time.perf_counter() - t
        o = self.lake.oracle
        sel = _in_range(o, sym, lo, hi)
        if kind == "delete":
            self.lake.oracle = o[~sel]
        else:
            self.lake.oracle = o.assign(volume=o["volume"].where(~sel, o["volume"] + 7))
        return secs

    def delete(self) -> float:
        return self._dml("delete")

    def update(self) -> float:
        return self._dml("update")

    # -- end-of-run checks ------------------------------------------------
    def final_checks(self) -> None:
        from market_data_lakehouse_spark import TransactionalLake

        reopened = TransactionalLake(self.spark, self.lake_dir)
        full = reopened.snapshot().select(*COLS).collect()
        self.res.check(
            _rows_key(full) == _frame_key(self.lake.oracle), "reopen",
            f"reopened lake has {len(full)} rows, oracle {len(self.lake.oracle)}",
        )
        # DML commits outside the stream are folded on the next refresh;
        # call the class's method, not the traced wrapper
        type(self.lake.view).refresh(self.lake.view)
        got = {
            (r["symbol"], str(r["date"])): (r["n_rows"], r["sum_volume"])
            for r in self.lake.view.view().collect()
        }
        o = self.lake.oracle
        o = o.assign(date=o["timestamp"].dt.date.astype(str))
        exp = {
            k: (int(g.size), int(g.sum())) for k, g in o.groupby(["symbol", "date"])["volume"]
        }
        self.res.check(got == exp, "view", f"view has {len(got)} groups, oracle {len(exp)}")

    def layer_values(self) -> dict:
        lake = self.lake
        log = dir_files(lake.txn.log_path)
        live, _, _ = lake.txn.prune_files({})
        live_bytes = sum(os.path.getsize(os.path.join(self.lake_dir, p)) for p in live)
        compact = os.path.join(lake.root, "oracle.parquet")
        feeds.write_bars(lake.oracle, compact)
        ref = [p for p in dir_files(lake.ref.base_path) if p.endswith(".parquet")]
        n_parts = len({os.path.dirname(p) for p in ref})
        t, jobs = self.t, self.jobs
        return {
            "streaming.jobs_per_batch": _mean(jobs.get("stream", [])),
            "streaming.rows_per_batch": _mean([b[0] for b in self.progress.batches]),
            "txnlog.jobs_per_append": _mean(jobs.get("txnlog.append", [])),
            "txnlog.jobs_per_snapshot": _mean(jobs.get("snapshot", [])),
            "txnlog.log_files": len(log),
            "txnlog.log_bytes": sum(log.values()),
            "txnlog.live_files": len(live),
            "txnlog.files_kept_per_lookup": t["kept"] / t["total"] if t["total"] else 0.0,
            "txnlog.optimize_bytes_rewritten": t["rewritten"],
            "txnlog.bytes_written_per_user_byte": t["written"] / t["staged"] if t["staged"] else 0.0,
            "txnlog.bytes_stored_per_user_byte": live_bytes / os.path.getsize(compact),
            "mv.commits_folded_per_refresh": _mean(self.folded),
            "lakehouse.files_per_partition": len(ref) / max(1, n_parts),
            "lakehouse.rows_scanned_per_row_returned": t["scanned"] / t["returned"] if t["returned"] else 0.0,
        }


def _mean(xs) -> float:
    return float(np.mean(xs)) if xs else 0.0


def run(ctx):
    res = ctx.result
    feed = feeds.BarFeed(ctx.seed)
    t = time.perf_counter()
    lake = Lake(ctx.spark, os.path.join(ctx.work, "lake"), feed)
    build_s = time.perf_counter() - t
    res.check(
        lake.ingest_errors == lake.n_invalid, "ingest_batch",
        f"{lake.ingest_errors} errors counted, {lake.n_invalid} bars seeded invalid",
    )
    t = time.perf_counter()
    client = Client(ctx, lake, feed)
    client.start_stream()
    for kind in WARMUP:
        client.do(kind, timed=False)
    warm_s = time.perf_counter() - t
    res.setup_s = ctx.session_s + build_s + warm_s
    res.setup_detail = {"session_s": ctx.session_s, "lake_build_s": build_s,
                        "stream_start_and_warmup_s": warm_s}

    client.progress.wait_for(client.n_stream)
    client.progress.batches.clear()
    warm_batches = client.n_stream
    client.reset_tallies()
    ctx.tracer.enabled = ctx.trace
    cpu0 = tree_cpu_s()
    start = time.perf_counter()
    while time.perf_counter() - start < ctx.seconds:
        for kind in CYCLE:
            if kind == "delete_or_update":
                kind = "delete" if client.rng.random() < 0.5 else "update"
            ctx.tracer.op_id += 1
            client.do(kind, timed=True)
    res.measured_s = time.perf_counter() - start
    res.cpu_s = tree_cpu_s() - cpu0
    ctx.tracer.enabled = False

    client.stop_stream(client.n_stream - warm_batches)
    try:
        client.final_checks()
    except Exception:
        res.check(False, "final checks", traceback.format_exc(limit=3).strip().splitlines()[-1])
    batches = client.progress.batches
    res.report.update(
        {
            "stream_batches": len(batches),
            "commit_ms_p50": _median([b[1] for b in batches]),
            "ingest_rows_per_s": round(STREAM_BARS * len(res.kind_ms("stream"))
                                       / (sum(res.kind_ms("stream")) / 1e3), 1)
            if res.kind_ms("stream") else None,
            "bulk_ingest_s (set-up, first call)": round(lake.bulk_ingest_s, 3),
            "lookup_ms_p50": _median(res.kind_ms("lookup")),
            "txn_read_ms_p50": _median(res.kind_ms("scan", "sql", "timetravel")),
            "dml_ms_p50": _median(res.kind_ms("merge", "delete", "update")),
        }
    )
    if ctx.trace:
        res.layers.update(client.layer_values())
    return res


def _median(xs):
    return round(float(np.median(xs)), 1) if xs else None

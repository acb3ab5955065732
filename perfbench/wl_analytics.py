"""``market_analytics``: passes over a fixed mix of catalog queries.

Set-up generates the star tables from the seed (several times; the
last copy is read), then runs one untimed pass that collects every
query's result: it warms code generation and the Python workers, and
its results are what the checks compare. The measured loop repeats
whole passes until ``--seconds`` have elapsed; every query in a pass
is forced through Spark's ``noop`` sink. Neither the transaction log
nor the lake writer runs in this workload.

Checks: each query with a DuckDB oracle in the catalog is compared
with it over the same parquet files; a query without one
(``e2_minhash_lsh``) must return the same rows again after the
measured passes.
Both engines round float aggregates after summing in different
orders, so a value on a rounding boundary can come out one unit apart
in the last decimal; floats therefore match when they differ by at
most one unit in the last decimal place the oracle's column shows.
"""

from __future__ import annotations

import hashlib
import math
import os
from decimal import Decimal
import time
import traceback

import numpy as np
import pandas as pd

import feeds
from spans import jobs_so_far, tree_cpu_s

QUERY_MIX = (
    "a2_vwap_top10", "a5_ohlcv_resample", "j6_asof_join", "j6_asof_nearest",
    "w2_rank_topn", "w7_returns_vol", "w9_ewma", "v4_anomaly_zscore",
    "a12_corr_matrix", "j11_shipping_priority", "j12_regional_revenue",
    "a14_big_orders", "e1_dedup_by_hash", "e3_knn_bruteforce",
    "e2_minhash_lsh", "w6_sessionize",
)
SCALE = 0.5  # 30k lineitem rows, 5k events, 250 documents and vectors
SETUP_REPEATS = 3


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cell_equal(a, b, tol: float) -> bool:
    a_na = not isinstance(a, (list, tuple, np.ndarray)) and pd.isna(a)
    b_na = not isinstance(b, (list, tuple, np.ndarray)) and pd.isna(b)
    if a_na or b_na:
        return a_na and b_na
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= tol
    return a == b


def _last_place(values: list) -> float:
    """One unit in the last decimal place any finite float of a column
    shows (its shortest repr), with slack for binary representation."""
    places = [
        -Decimal(repr(v)).as_tuple().exponent
        for v in values
        if isinstance(v, float) and math.isfinite(v)
    ]
    return 1.000001 * 10.0 ** -max(places) if places else 0.0


def _mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        gv, wv = g[c].tolist(), w[c].tolist()
        tol = _last_place(wv)
        bad = [i for i in range(len(gv)) if not _cell_equal(gv[i], wv[i], tol)]
        if bad:
            return f"{len(bad)} values differ in {c}; first {gv[bad[0]]!r} vs {wv[bad[0]]!r}"
    return None


def _digest(df: pd.DataFrame) -> str:
    rows = sorted(map(repr, _normalize(df).itertuples(index=False)))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def run(ctx):
    import duckdb

    from market_data_lakehouse_spark.queries import REGISTRY

    spark, tracer, res = ctx.spark, ctx.tracer, ctx.result
    setup_times = []
    for rep in range(SETUP_REPEATS):
        t = time.perf_counter()
        sf = os.path.join(ctx.work, f"star{rep}")
        feeds.write_star(feeds.star_tables(ctx.seed, SCALE), sf)
        setup_times.append(time.perf_counter() - t)

    t = time.perf_counter()
    first: dict[str, pd.DataFrame] = {}
    broken: dict[str, str] = {}
    for name in QUERY_MIX:
        try:
            first[name] = REGISTRY[name].fn(spark, sf).toPandas()
        except Exception:
            broken[name] = traceback.format_exc(limit=3).strip().splitlines()[-1]
    warm_s = time.perf_counter() - t
    res.setup_s = ctx.session_s + float(np.median(setup_times)) + warm_s
    res.setup_detail = {"session_s": ctx.session_s, "tables_s": setup_times,
                        "warm_pass_s": warm_s}

    jobs: dict[str, list[int]] = {}
    passes = []
    tracer.enabled = ctx.trace
    cpu0 = tree_cpu_s()
    start = time.perf_counter()
    while time.perf_counter() - start < ctx.seconds:
        pass_s = 0.0
        for name in QUERY_MIX:
            tracer.op_id = len(res.ops)
            j0 = jobs_so_far(spark) if ctx.trace else 0
            try:
                t = time.perf_counter()
                with tracer.span("op.query"):
                    with tracer.span(f"queries.{name}"):
                        df = REGISTRY[name].fn(spark, sf)
                    with tracer.span("spark.noop_write"):
                        df.write.format("noop").mode("overwrite").save()
                secs = time.perf_counter() - t
            except Exception:
                res.attempted += 1
                res.fail(name, traceback.format_exc(limit=3).strip().splitlines()[-1])
                continue
            res.op(name, secs, True)
            pass_s += secs
            if ctx.trace:
                jobs.setdefault(name, []).append(jobs_so_far(spark) - j0)
        passes.append(pass_s)
    res.measured_s = time.perf_counter() - start
    res.cpu_s = tree_cpu_s() - cpu0
    tracer.enabled = False

    # -- checks (outside the timed calls) -------------------------------
    con = duckdb.connect()
    for table in feeds.STAR_TABLES:
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{sf}/{table}.parquet'")
    wrong: dict[str, str] = dict(broken)
    for name in QUERY_MIX:
        if name in broken:
            continue
        oracle = REGISTRY[name].oracle
        try:
            if oracle is not None:
                why = _mismatch(first[name], con.sql(oracle).df())
            else:
                again = REGISTRY[name].fn(spark, sf).toPandas()
                why = None if _digest(again) == _digest(first[name]) else "result changed between passes"
        except Exception:
            why = traceback.format_exc(limit=3).strip().splitlines()[-1]
        if why:
            wrong[name] = why
    con.close()
    for name, why in wrong.items():
        runs = sum(1 for k, _, _ in res.ops if k == name)
        # every timed execution of a query whose result is wrong fails
        res.failures.extend([f"{name}: {why}"] * max(1, runs))
        if not runs:
            res.attempted += 1

    for name in QUERY_MIX:
        ms = res.kind_ms(name)
        if ms:
            res.report[f"queries.{name}_s"] = round(float(np.median(ms)) / 1e3, 3)
    res.report.update(
        {
            "passes": len(passes),
            "analytics_pass_s": round(float(np.median(passes)), 3) if passes else None,
            "queries_checked_against_oracle": sum(REGISTRY[n].oracle is not None for n in QUERY_MIX),
        }
    )
    if ctx.trace:
        for name, counts in jobs.items():
            res.layers[f"queries.{name}_jobs"] = float(np.mean(counts))
    return res

"""Property-based tests (hypothesis): engine semantics vs tiny
Python oracles on randomized inputs. Few examples, real Spark round
trips — these catch boundary semantics (ties, empty sides, NaN)
that fixed fixtures miss."""

from __future__ import annotations

import math
from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from market_data_lakehouse_spark.asof import asof_join, asof_join_bucketed

BASE = datetime(2024, 6, 15, 10, 0)

# (key, ts-offset-seconds, value); value None = quote with NULL px
event = st.tuples(
    st.sampled_from(["A", "B"]),
    st.integers(min_value=0, max_value=7200),
    st.one_of(st.none(), st.integers(min_value=0, max_value=1000)),
)


def _py_asof(trades, quotes):
    """Per-trade latest quote at-or-before, per key (ties: quote at
    the same instant IS visible). A NULL-valued quote still wins
    resolution — the result is then NULL, not an older price."""
    out = {}
    for k, t_off, tv in trades:
        best = None
        for qk, q_off, qv in quotes:
            if qk == k and q_off <= t_off:
                if best is None or q_off > best[0]:
                    best = (q_off, qv)
        out.setdefault((k, t_off), set()).add(best[1] if best else None)
    return out


@pytest.mark.parametrize("impl", [asof_join, asof_join_bucketed])
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    trades=st.lists(event, min_size=1, max_size=12, unique_by=lambda e: (e[0], e[1])),
    quotes=st.lists(event, min_size=0, max_size=12, unique_by=lambda e: (e[0], e[1])),
)
def test_asof_matches_python_oracle(spark, impl, trades, quotes):
    tdf = spark.createDataFrame(
        [
            (k, BASE + timedelta(seconds=o), None if v is None else float(v))
            for k, o, v in trades
        ],
        "sym string, ts timestamp, trade_px double",
    )
    qdf = spark.createDataFrame(
        [
            (k, BASE + timedelta(seconds=o), None if v is None else float(v))
            for k, o, v in quotes
        ],
        "sym string, ts timestamp, quote_px double",
    ) if quotes else spark.createDataFrame(
        [], "sym string, ts timestamp, quote_px double"
    )
    kwargs = {"bucket_minutes": 7} if impl is asof_join_bucketed else {}
    got = impl(tdf, qdf, on="sym", left_ts="ts", right_ts="ts", **kwargs)
    expected = _py_asof(trades, quotes)
    rows = got.collect()
    assert len(rows) == len(trades)
    for r in rows:
        off = int((r["ts"] - BASE).total_seconds())
        want = expected[(r["sym"], off)]
        assert (None if r["quote_px"] is None else int(r["quote_px"])) in want


@pytest.mark.parametrize("impl", [asof_join, asof_join_bucketed])
def test_asof_null_quote_value_shadows_older(spark, impl):
    """A quote row whose VALUE is NULL still wins as-of resolution
    (DuckDB ASOF attaches the row, giving a NULL value) — it must not
    be conflated with 'no quote' and resurrect an older price. With
    1-minute buckets the trade sits many buckets after both quotes,
    so the bucketed variant's carry-in path is exercised too."""
    tdf = spark.createDataFrame(
        [("A", BASE + timedelta(minutes=30), 1.0)],
        "sym string, ts timestamp, trade_px double",
    )
    qdf = spark.createDataFrame(
        [("A", BASE, 5.0), ("A", BASE + timedelta(minutes=1), None)],
        "sym string, ts timestamp, quote_px double",
    )
    kwargs = {"bucket_minutes": 1} if impl is asof_join_bucketed else {}
    rows = impl(tdf, qdf, on="sym", **kwargs).collect()
    assert len(rows) == 1 and rows[0]["quote_px"] is None


bar_floats = st.one_of(
    st.floats(min_value=1, max_value=1000, allow_nan=False),
    st.just(float("nan")),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    bars=st.lists(
        st.tuples(bar_floats, bar_floats, bar_floats, bar_floats,
                  st.integers(min_value=-5, max_value=100)),
        min_size=1,
        max_size=20,
    )
)
def test_ingest_split_conserves_rows(spark, tmp_path_factory, bars):
    """rows_ingested + errors == len(input), for any mix of valid,
    invalid, and NaN bars — and the Spark-side predicate agrees with
    the Python mirror (_valid_py) on every row."""
    from market_data_lakehouse_spark.lakehouse import DataLakehouse

    lake = DataLakehouse(
        spark, str(tmp_path_factory.mktemp("prop") / "lake")
    )
    rows = [
        {
            "symbol": "X",
            "timestamp": BASE + timedelta(seconds=i),
            "open": o,
            "high": h,
            "low": lo,
            "close": c,
            "volume": v,
            "asset_class": "equity",
        }
        for i, (o, h, lo, c, v) in enumerate(bars)
    ]
    stats = lake.ingest_batch(rows)
    assert stats.rows_ingested + stats.errors == len(rows)
    n_valid_py = sum(1 for r in rows if DataLakehouse._valid_py(r))
    assert stats.rows_ingested == n_valid_py


# ---------------------------------------------------------------------------
# Bit-parity invariants behind the vectorized (Arrow/numpy) kernels
# ---------------------------------------------------------------------------

vec_float = st.floats(
    min_value=-10, max_value=10, allow_nan=False, width=32
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(vec_float, min_size=8, max_size=8),
        min_size=2,
        max_size=6,
    )
)
def test_cosine_pairs_bit_identical_to_jvm_fold(spark, vecs):
    """The numpy cosine kernel (np.cumsum left-to-right sums) must be
    BIT-identical to the interpreted JVM sequential fold — this is
    the invariant that lets the fast kernel keep oracle hash parity."""
    from pyspark.sql import functions as F

    from market_data_lakehouse_spark.queries.similarity import (
        cosine,
        cosine_pairs,
    )

    df = spark.createDataFrame(
        [(i, v, vecs[(i + 1) % len(vecs)]) for i, v in enumerate(vecs)],
        "id long, a array<float>, b array<float>",
    )
    rows = df.select(
        "id",
        cosine("a", "b").alias("jvm"),
        cosine_pairs("a", "b").alias("np"),
    ).collect()
    for r in rows:
        if r.jvm is None or math.isnan(r.jvm):
            assert r.np is None or math.isnan(r.np)
        else:
            assert r.jvm == r.np, (r.id, r.jvm, r.np)  # exact, no tolerance


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(vec_float, min_size=64, max_size=64),
        min_size=1,
        max_size=4,
    )
)
def test_sign_bucket_vectorized_matches_column_expr(spark, vecs):
    """numpy- and column-computed hyperplane sign buckets must agree
    bit-for-bit (same JVM-derived hyperplanes, same fold order)."""
    from pyspark.sql import functions as F

    from market_data_lakehouse_spark.queries.similarity import (
        hyperplane_sign_bucket,
        vectorized_sign_bucket,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id long, e array<float>"
    )
    rows = df.select(
        "id",
        hyperplane_sign_bucket(F.col("e")).alias("jvm"),
        vectorized_sign_bucket(spark, F.col("e")).alias("np"),
    ).collect()
    assert all(r.jvm == r.np for r in rows), rows


@settings(max_examples=20, deadline=None)
@given(
    cents=st.integers(min_value=0, max_value=10**15),
    from_scale=st.integers(min_value=2, max_value=6),
    to_digits=st.integers(min_value=0, max_value=6),
)
def test_scaled_round_matches_decimal_half_up(cents, from_scale, to_digits):
    """money.scaled_round must equal Python Decimal ROUND_HALF_UP then
    exact cast to double — the DECIMAL semantics the DuckDB oracle
    applies. Pure-column expression, evaluated via a literal fold."""
    from decimal import ROUND_HALF_UP, Decimal

    from market_data_lakehouse_spark.queries import money

    session = _active_session()
    df = session.range(1).select(
        money.scaled_round(
            __import__("pyspark.sql.functions", fromlist=["lit"]).lit(cents),
            from_scale,
            to_digits,
        ).alias("r")
    )
    got = df.first().r
    want = float(
        (Decimal(cents) / (10**from_scale)).quantize(
            Decimal(1).scaleb(-min(to_digits, from_scale)),
            rounding=ROUND_HALF_UP,
        )
    )
    assert got == want, (cents, from_scale, to_digits, got, want)


def _active_session():
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(
            st.text(
                alphabet="abcde", min_size=1, max_size=3
            ),
            min_size=0,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
def test_window_shingles_match_transform_shingles(spark, texts):
    """The shuffle-free arrays_zip shingle construction must produce
    the same shingle SETS as a per-document array transform
    (including the <3-token whole-text fallback)."""
    from pyspark.sql import functions as F

    from market_data_lakehouse_spark.queries.dedup import (
        SHINGLE,
        _shingles_exploded,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    arr = F.when(
        F.size(toks) >= SHINGLE,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - SHINGLE),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, SHINGLE)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    want = set(
        map(
            tuple,
            df.select("doc_id", F.explode(arr).alias("s")).distinct().collect(),
        )
    )
    got = set(
        map(tuple, _shingles_exploded(df, carry=()).distinct().collect())
    )
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    target=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=10,
        unique_by=lambda r: r[0],
    ),
    source=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=200, max_value=300),
        ),
        min_size=1,
        max_size=10,
        unique_by=lambda r: r[0],
    ),
)
def test_merge_matches_python_upsert(spark, tmp_path_factory, target, source):
    """Copy-on-write MERGE vs a dict upsert: for random unique-keyed
    target/source frames, the post-merge snapshot must equal
    ``{**dict(target), **dict(source)}`` — survivors kept, matches
    replaced, inserts added — regardless of which files the keys
    landed in."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    root = tmp_path_factory.mktemp("merge_prop")
    lake = TransactionalLake(spark, str(root / "tx"), partition_by=())
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(k, float(v)) for k, v in rows], "k long, v double"
    )
    lake.append(mk(target))
    lake.merge(mk(source), on="k")
    got = {r.k: r.v for r in lake.snapshot().collect()}
    want = {k: float(v) for k, v in target}
    want.update({k: float(v) for k, v in source})
    assert got == want


# pruning soundness: one small lake, bounds drawn from the stored
# values' own pools in several spellings (int/float/str numbers,
# ' '/'T'/date-only instants, dates with and without a time part)
_DAYS = ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
_SKIP_COLS = ("i", "ns", "ts", "dt", "p")
# (partition p, rows of (i, ns, ts, dt)): one data file each
_SKIP_FILES = [
    ("2024-01-01", [(1, "10", "2024-01-01 10:00:00", "2024-01-01"),
                    (3, "9", "2024-01-01T10:00:00", "2024-01-01")]),
    ("2024-01-01", [(5, "5", "2024-01-02", "2024-01-03")]),
    ("2024-01-02", [(7, "100", "2024-01-01T23:00:00", "2024-01-02"),
                    (8, "10", "2024-01-02 00:00:00", "2024-01-02")]),
    ("2024-01-03", [(10, "9", "2024-01-02T00:00:00", "2024-01-01"),
                    (12, "5", "2024-01-01", "2024-01-03")]),
    ("2024-01-03", [(12, "10", "2024-01-01 23:00:00", "2024-01-03")]),
]
_day_spelled = st.builds(
    str.__add__,
    st.sampled_from(_DAYS),
    st.sampled_from(["", " 00:00:00", " 10:00:00", "T00:00:00", "T10:00:00"]),
)
_SKIP_POOLS = {
    # int column: integral strings only (ANSI casts '5.5' -> error)
    "i": st.integers(0, 13).flatmap(
        lambda v: st.sampled_from([v, float(v), v + 0.5, str(v)])
    ),
    # numeric-looking strings: quoted compares lexically, unquoted
    # casts the column to a number
    "ns": st.sampled_from(["5", "9", "10", "50", "100"]).flatmap(
        lambda s: st.sampled_from([s, int(s), float(s)])
    ),
    "ts": st.one_of(
        st.sampled_from(_DAYS),
        st.builds(
            lambda d, sep, t: d + sep + t,
            st.sampled_from(_DAYS),
            st.sampled_from([" ", "T"]),
            st.sampled_from(["00:00:00", "10:00:00", "23:00:00"]),
        ),
    ),
    "dt": _day_spelled,
    "p": _day_spelled,
}


def _col_value(col):
    return st.tuples(st.just(col), _SKIP_POOLS[col])


_any_value = st.sampled_from(_SKIP_COLS).flatmap(_col_value)


def _sql_literal(v) -> str:
    return f"'{v}'" if isinstance(v, str) else str(v)


@st.composite
def _dml_predicate(draw):
    pieces = []
    for _ in range(draw(st.integers(1, 2))):
        col, v = draw(_any_value)
        if draw(st.booleans()):
            op = draw(st.sampled_from(["=", "<", "<=", ">", ">="]))
            pieces.append(f"{col} {op} {_sql_literal(v)}")
        else:
            hi = draw(_SKIP_POOLS[col])
            pieces.append(
                f"{col} BETWEEN {_sql_literal(v)} AND {_sql_literal(hi)}"
            )
    if draw(st.booleans()):
        pieces.append("i + 1 > 0")  # unparseable: prunes nothing
    return " AND ".join(pieces)


@pytest.fixture(scope="module")
def skip_lake(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from market_data_lakehouse_spark.txnlog import TransactionalLake

    root = tmp_path_factory.mktemp("skip_prop")
    lake = TransactionalLake(spark, str(root / "tx"), partition_by=("p",))
    for p, rows in _SKIP_FILES:
        lake.append(
            spark.createDataFrame(
                [(*r, p) for r in rows],
                "i long, ns string, ts string, dt string, p string",
            )
            .withColumn("dt", F.to_date("dt"))
            .coalesce(1)
        )
    return lake


def _rows(df):
    return sorted(tuple(r) for r in df.select(*_SKIP_COLS).collect())


@settings(max_examples=5, deadline=None)
@given(
    bound=_any_value.flatmap(
        lambda cv: st.tuples(
            st.just(cv[0]),
            st.none() | _SKIP_POOLS[cv[0]],
            st.none() | _SKIP_POOLS[cv[0]],
        )
    ),
    equals=st.none() | _any_value,
)
def test_scan_between_never_skips_matching_rows(skip_lake, bound, equals):
    """Stats and partition-value skipping only removes I/O: for any
    bounds and point value, ``scan_between`` returns exactly the rows
    of the snapshot filtered the same way."""
    from pyspark.sql import functions as F

    col, lo, hi = bound
    eq = dict([equals]) if equals else None
    want = skip_lake.snapshot()
    if lo is not None:
        want = want.filter(F.col(col) >= F.lit(lo))
    if hi is not None:
        want = want.filter(F.col(col) <= F.lit(hi))
    for c, v in (eq or {}).items():
        want = want.filter(F.col(c) == F.lit(v))
    got = skip_lake.scan_between({col: (lo, hi)}, equals=eq)
    assert _rows(got) == _rows(want)


@settings(max_examples=5, deadline=None)
@given(pred=_dml_predicate())
def test_dml_prune_never_drops_matching_rows(skip_lake, pred):
    """DML data skipping keeps every file holding a row the predicate
    matches: the kept files' matching rows equal the snapshot's."""
    files, schemas, _v, dvs = skip_lake._snapshot_state()
    kept = skip_lake._dml_prune(files, pred)
    got = skip_lake._read_files(kept, schemas, dvs).filter(pred)
    assert _rows(got) == _rows(skip_lake.snapshot().filter(pred))

"""Query registry: name -> (spark fn, optional DuckDB oracle SQL)."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from market_data_lakehouse_spark.schema import load_table


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over the pre-registered views
    tags: tuple[str, ...] = ()


REGISTRY: dict[str, QuerySpec] = {}

# True registration order, append-only — survives the driver-window
# reorder of REGISTRY, so window-rotation scripts can compute
# "oldest-registered-first" cohorts verifiably instead of from memory.
REGISTRATION_ORDER: list[str] = []


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add a query to the catalog under ``name``."""

    def deco(fn):
        if name not in REGISTRY:
            REGISTRATION_ORDER.append(name)
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


_TABLE_CACHE: dict[tuple[int, str, str, bool], DataFrame] = {}


def load(
    spark: SparkSession, sf_dir: str, name: str, raw: bool = False
) -> DataFrame:
    """Read one driver table (ns-timestamp conversion handled; pass
    ``raw=True`` for the unconverted scan — see schema.load_table).

    The analyzed DataFrame is memoized per (session, dir, table):
    repeated queries skip the parquet footer/schema-inference job, as
    a metastore-backed table would. Data is NOT cached — every query
    still scans parquet."""
    key = (id(spark), sf_dir, name, raw)
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = _TABLE_CACHE[key] = load_table(spark, sf_dir, name, raw=raw)
    return df


def doc_nibble(pos: int):
    """pos-th hex char (1-based) of md5(doc_id) — a uniform,
    deterministic 1/16 bucket, independent per position. THE
    membership-gate primitive shared by the E6 split/sample/mixture
    gates and the E1 eval-slice definition: all stages that must
    agree on slice membership derive it from here."""
    from pyspark.sql import functions as F

    return F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), pos, 1
    )


_ROWBOUND_CACHE: dict[tuple[str, tuple[str, ...]], int | None] = {}


def parquet_rowcount_bound(sf_dir: str, *tables: str) -> int | None:
    """Row count of driver tables from parquet FOOTER metadata —
    driver-side file opens, ZERO Spark jobs (r12 VERDICT directive
    5: stats-first plan gates). Parquet footers record exact per-file
    row counts, so the sum is EXACT for the files actually present.
    Two caller contracts (r14, review-clarified):

    - SIZING callers (broadcast gates) treat it as an upper bound —
      an over-estimate degrades to a shuffle, never an OOM — so they
      are safe even against a layout drift (stray files under the
      table path would only over-count).
    - EXACTNESS callers (output anchors: e2_semantic_dedup's n_vecs,
      e3_kmeans's n_total) rely on the driver-dataset layout
      invariant that ``<sf_dir>/<table>.parquet`` holds exactly that
      table's files and nothing else — true for the immutable
      testdata dirs this helper serves. Code writing its OWN parquet
      trees must not anchor correctness here.

    Returns None when any file is unreadable — the caller falls back
    to its exact-count job.
    Memoized per (dir, tables): the driver tables are immutable for
    a run, exactly like ``load``'s DataFrame cache."""
    key = (sf_dir, tuple(sorted(tables)))
    if key in _ROWBOUND_CACHE:
        return _ROWBOUND_CACHE[key]
    try:
        import pyarrow.parquet as pq
    except Exception:  # pragma: no cover - pyarrow is baked in
        return None
    total = 0
    out: int | None = 0
    for t in tables:
        files = _table_files(sf_dir, t)
        if not files:
            out = None
            break
        try:
            for f in files:
                total += pq.ParquetFile(f).metadata.num_rows
        except Exception:
            out = None
            break
    if out is not None:
        out = total
    _ROWBOUND_CACHE[key] = out
    return out


_COLRANGE_CACHE: dict[
    tuple[str, str, str], tuple[int, int] | None
] = {}


def parquet_colrange_bound(
    sf_dir: str, table: str, column: str
) -> tuple[int, int] | None:
    """(min, max) bounds on an integer column from parquet FOOTER
    column statistics — driver-side file opens, zero Spark jobs (the
    ``parquet_rowcount_bound`` pattern applied to value domains).
    SIZING/NARROWING callers only: a gate keyed on "ids provably fit
    a narrower representation" turns OFF when any file lacks stats
    (returns None), so a false negative costs the wide path, never a
    wrong answer. Both endpoints are returned because pack-style
    narrowing needs the MIN proven too (r16 ADVICE: a negative id
    would collide under a shift-pack even when the max fits).
    Memoized per (dir, table, column) — the driver tables are
    immutable for a run."""
    key = (sf_dir, table, column)
    if key in _COLRANGE_CACHE:
        return _COLRANGE_CACHE[key]

    def _scan() -> tuple[int, int] | None:
        # helper-return instead of the old raise-StopIteration
        # break-out (r16 ADVICE): a missing-stats row group and a
        # real failure both read as "no bound", but no exception
        # machinery doubles as control flow.
        import pyarrow.parquet as pq

        files = _table_files(sf_dir, table)
        if not files:
            return None
        lo: int | None = None
        hi: int | None = None
        for f in files:
            md = pq.ParquetFile(f).metadata
            # md.num_columns, not md.schema.num_columns: ParquetSchema
            # has no such attribute — the r16 version's blanket
            # except swallowed exactly this AttributeError, silently
            # disabling the packed-key gate on every call.
            idx = {
                md.schema.column(i).name: i
                for i in range(md.num_columns)
            }
            if column not in idx:
                return None
            ci = idx[column]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                smin, smax = int(st.min), int(st.max)
                lo = smin if lo is None or smin < lo else lo
                hi = smax if hi is None or smax > hi else hi
        if lo is None or hi is None:
            return None
        return (lo, hi)

    try:
        out = _scan()
    except (OSError, ValueError, KeyError, TypeError, ImportError):
        out = None
    except AttributeError as e:
        # pyarrow footer-API drift: still fail soft (no bound, the
        # wide path), but loudly — a silent miss disabled the gate
        # once before
        import warnings

        warnings.warn(
            f"parquet_colrange_bound({table}.{column}): pyarrow "
            f"footer API mismatch ({e}); the colrange narrowing gate "
            "is off for this column",
            RuntimeWarning,
            stacklevel=2,
        )
        out = None
    _COLRANGE_CACHE[key] = out
    return out


def _table_files(sf_dir: str, table: str) -> list[str]:
    """The parquet files under a driver table's path — the same set
    both the footer summers above and Spark's scan resolve."""
    import glob
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(path):
        return [path]
    return sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


_ROWEXACT_VERIFIED: dict[tuple[str, str], tuple] = {}


def _layout_fingerprint(sf_dir: str, table: str) -> tuple:
    """Cheap layout identity for a table path: (path, size, mtime_ns)
    per file — stat-only, no file opens. Drift in any of the three
    (file added/removed/rewritten) changes the fingerprint."""
    import os

    out = []
    for f in _table_files(sf_dir, table):
        try:
            st = os.stat(f)
            out.append((f, st.st_size, st.st_mtime_ns))
        except OSError:
            out.append((f, -1, -1))
    return tuple(out)


def parquet_rowcount_exact(
    sf_dir: str, table: str, df: DataFrame
) -> int | None:
    """EXACTNESS-caller variant of ``parquet_rowcount_bound`` (r15,
    r14 ADVICE): before trusting the footer sum as a correctness
    anchor, cross-check that the footer enumeration saw EXACTLY the
    files the DataFrame's scan resolved (``df.inputFiles()``,
    driver-side metadata, zero Spark jobs). A stray or missing file
    under the table path returns None, so the caller falls back to
    its exact-count job instead of anchoring a gate on a drifted
    layout. The verification memo is keyed on a stat-level layout
    fingerprint (r16, r15 ADVICE: a whole-session memo served a
    stale footer count after mid-session drift) — any file add/
    remove/rewrite under the path re-verifies AND re-sums the
    footers instead of replaying the first answer."""
    key = (sf_dir, table)
    fp = _layout_fingerprint(sf_dir, table)
    if _ROWEXACT_VERIFIED.get(key) == fp:
        n = parquet_rowcount_bound(sf_dir, table)
        if n is not None:
            return n
        del _ROWEXACT_VERIFIED[key]
    else:
        # layout changed since verification: the footer-sum memo for
        # this table is stale too — drop it so the re-sum is real
        _ROWEXACT_VERIFIED.pop(key, None)
        _ROWBOUND_CACHE.pop((sf_dir, (table,)), None)
    n = parquet_rowcount_bound(sf_dir, table)
    if n is None:
        return None
    import os
    from urllib.parse import unquote, urlparse

    footer_set = {os.path.realpath(f) for f in _table_files(sf_dir, table)}
    scan_set = {
        os.path.realpath(unquote(urlparse(u).path))
        for u in df.inputFiles()
    }
    if footer_set != scan_set:
        return None
    _ROWEXACT_VERIFIED[key] = fp
    return n


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_map() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }


def scratch_dir(prefix: str) -> str:
    """Process-lifetime scratch directory for query gates that build
    a throwaway lake. The returned DataFrame is LAZY — the driver (or
    oracle harness) collects it after the gate returns, so the dir
    must outlive the function; cleanup is registered atexit instead.
    Before this, every gate run leaked its lake into /tmp
    (~3.7 GB / 1100 dirs accumulated across driver rounds)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=f"mdl_{prefix}_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d

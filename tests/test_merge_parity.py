"""MERGE's two source plans agree: a source under the broadcast
threshold is collected once and merged against LocalRelations; with
``spark.sql.autoBroadcastJoinThreshold=-1`` the same merge takes the
checkpointed distributed plan. Each case runs both ways on fresh
tables and compares the snapshot, the change feed of the merge and
any error. The two DML writers agree too: every MERGE shape a
deletion vector can record, and UPDATE and DELETE, leave the same
rows and row ids with ``mode="rewrite"`` and ``mode="dv"``."""

from __future__ import annotations

from datetime import datetime

import pytest

from market_data_lakehouse_spark.txnlog import TransactionalLake

SCHEMA = "k long, qty double, note string"
TARGET = [
    [(1, 10.0, "a"), (2, 20.0, "b"), (None, 5.0, "n")],
    [(3, 30.0, "c"), (5, 50.0, "e")],
]
SOURCE = [(1, 11.0, "x"), (3, 33.0, "y"), (4, 40.0, "d"), (None, 7.0, "m")]


def _rows(df, ids=None):
    """Sorted row tuples; with ``ids``, each ``_row_id`` is replaced by
    the note of the pre-merge row that held it ("new" for a fresh id),
    since ids themselves depend on how the seed rows landed in files."""
    out = []
    for r in df.collect():
        d = r.asDict()
        if ids is not None:
            d["_row_id"] = ids.get(d["_row_id"], "new")
        out.append(tuple(d.values()))
    return sorted(out, key=repr)


def _outcome(spark, root, *, target, source, schema, src_schema=None,
             partition_by=(), row_tracking=False, dml=None, **merge_kw):
    """(snapshot, change feed) after merging ``source`` into a fresh
    ``target`` table — or after ``dml(lake)`` instead, when given —
    or ("error", message)."""
    lk = TransactionalLake(spark, root, partition_by=partition_by)
    for rows in target:
        lk.append(spark.createDataFrame(rows, schema))
    kw, ids = {}, None
    if row_tracking:
        lk.enable_row_tracking()
        kw = {"with_row_ids": True}
        ids = {r["_row_id"]: r["note"] for r in lk.snapshot(**kw).collect()}
    base = lk.version
    try:
        if dml is not None:
            dml(lk)
        else:
            lk.merge(spark.createDataFrame(source, src_schema or schema),
                     **merge_kw)
    except ValueError as e:
        return "error", str(e)
    changes = lk.read_changes(base + 1, **kw)
    return (
        _rows(lk.snapshot(**kw), ids),
        _rows(changes.drop(*[c for c in changes.columns
                             if c == "_commit_timestamp"]), ids),
    )


def _both(spark, tmp_path, monkeypatch, threshold="-1", **kw):
    """(local outcome, distributed outcome), checking which plan ran:
    only the distributed one measures the source with an aggregate.
    The distributed run sets the broadcast threshold to
    ``threshold``."""
    measured = []
    orig = TransactionalLake._measured_bytes
    monkeypatch.setattr(
        TransactionalLake, "_measured_bytes",
        lambda self, *a, **k: measured.append(1) or orig(self, *a, **k),
    )
    conf = "spark.sql.autoBroadcastJoinThreshold"
    local = _outcome(spark, str(tmp_path / "local"), **kw)
    assert not measured, "the small source took the distributed plan"
    old = spark.conf.get(conf)
    spark.conf.set(conf, threshold)
    try:
        dist = _outcome(spark, str(tmp_path / "dist"), **kw)
    finally:
        spark.conf.set(conf, old)
    assert measured, "a source over the threshold was collected"
    return local, dist


CASES = {
    "set_exprs_condition": {
        "set_exprs": {"qty": "qty + source.qty"},
        "matched_condition": "source.qty > 20",
    },
    "clauses_with_delete": {
        "matched_clauses": [
            {"action": "delete", "condition": "source.note = 'x'"},
            {"action": "update", "set": {"note": "upper(source.note)"}},
        ],
    },
    "insert_only": {"when_matched": None},
    "by_source_delete": {"when_not_matched_by_source": "delete"},
    "by_source_update": {
        "when_not_matched_by_source": "update",
        "by_source_set": {"qty": "qty * 2"},
        "by_source_condition": "qty > 15",
    },
    "by_source_no_matched_clause": {
        "when_matched": None,
        "when_not_matched_by_source": "delete",
    },
    "dv": {"mode": "dv"},
    "dv_conditions": {
        "mode": "dv",
        "matched_condition": "source.qty > 20",
        "not_matched_condition": "source.qty < 40",
    },
    "dv_insert_only": {"mode": "dv", "when_matched": None},
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_and_distributed_merge_agree(spark, tmp_path, monkeypatch,
                                           case):
    local, dist = _both(
        spark, tmp_path, monkeypatch, target=TARGET, source=SOURCE,
        schema=SCHEMA, on="k", **CASES[case],
    )
    assert local[0] != "error", local
    assert local == dist


def _modes_agree(spark, tmp_path, statement=None, **kw):
    """The snapshot, with row ids, after the same MERGE — or the
    ``statement(mode)`` DML — in each writer. Change feeds differ by
    design: a copy-on-write rewrite emits its survivors, a deletion
    vector does not."""
    got = {
        mode: _outcome(
            spark, str(tmp_path / mode), target=TARGET, schema=SCHEMA,
            row_tracking=True,
            **({"dml": statement(mode)} if statement else {"mode": mode}),
            **kw,
        )[0]
        for mode in ("rewrite", "dv")
    }
    assert got["rewrite"] != "error", got
    assert got["rewrite"] == got["dv"]
    return got["dv"]


# BY SOURCE clauses are copy-on-write only
DV_CASES = sorted(
    c for c, kw in CASES.items() if "when_not_matched_by_source" not in kw
)


@pytest.mark.parametrize("case", DV_CASES)
def test_rewrite_and_dv_merge_agree(spark, tmp_path, case):
    kw = {k: v for k, v in CASES[case].items() if k != "mode"}
    _modes_agree(spark, tmp_path, source=SOURCE, on="k", **kw)


DML_CASES = {
    "delete": lambda mode: lambda lk: lk.delete_where(
        "k > 1 AND qty < 40", mode=mode),
    "delete_none": lambda mode: lambda lk: lk.delete_where(
        "qty > 1000", mode=mode),
    "update": lambda mode: lambda lk: lk.update_where(
        "k >= 2", {"qty": "qty + k", "note": "upper(note)"}, mode=mode),
    "update_null_predicate": lambda mode: lambda lk: lk.update_where(
        "k * 0 = 0", {"note": "concat(note, '!')"}, mode=mode),
}


@pytest.mark.parametrize("case", sorted(DML_CASES))
def test_rewrite_and_dv_update_delete_agree(spark, tmp_path, case):
    """UPDATE and DELETE on a row-tracked table. The NULL-keyed row
    never satisfies a predicate over ``k``, so it is never touched."""
    snap = _modes_agree(spark, tmp_path, DML_CASES[case], source=None)
    assert any(r[0] is None for r in snap)


def test_schema_evolution_agrees(spark, tmp_path, monkeypatch):
    local, dist = _both(
        spark, tmp_path, monkeypatch, target=TARGET,
        source=[(1, 11.0, "x", 7), (4, 40.0, "d", 8)],
        schema=SCHEMA, src_schema=SCHEMA + ", extra int",
        on="k", schema_evolution=True,
    )
    assert local[0] != "error", local
    assert {len(r) for r in local[0]} == {4}
    assert local == dist


@pytest.mark.parametrize(
    "source",
    [
        [(1, 1.0, "x"), (1, 2.0, "y"), (4, 4.0, "z")],
        # NULL keys group together in the duplicate check
        [(None, 1.0, "x"), (None, 2.0, "y"), (4, 4.0, "z")],
    ],
    ids=["duplicate_key", "duplicate_null_key"],
)
def test_duplicate_key_errors_agree(spark, tmp_path, monkeypatch, source):
    local, dist = _both(
        spark, tmp_path, monkeypatch, target=TARGET, source=source,
        schema=SCHEMA, on="k",
    )
    assert local[0] == "error"
    assert "duplicate keys" in local[1]
    assert local == dist


def test_whole_row_upsert_null_keys_never_match(spark, tmp_path,
                                                monkeypatch):
    """The default whole-row upsert. Every case carries NULL keys on
    both sides: the NULL-keyed source row inserts and the NULL-keyed
    target row survives, in both plans."""
    local, dist = _both(
        spark, tmp_path, monkeypatch, target=TARGET, source=SOURCE,
        schema=SCHEMA, on="k",
    )
    assert local[0] == sorted(
        [(1, 11.0, "x"), (2, 20.0, "b"), (None, 5.0, "n"), (3, 33.0, "y"),
         (5, 50.0, "e"), (4, 40.0, "d"), (None, 7.0, "m")],
        key=repr,
    )
    assert local == dist


def test_repeated_target_keys_agree(spark, tmp_path, monkeypatch):
    """A key the target holds five times: the local probe names more
    (file, source row) pairs than the source has rows, aggregates
    them instead, and every copy of the key is updated."""
    target = [[(1, 10.0, "a"), (1, 12.0, "a"), (2, 20.0, "b")],
              [(1, 13.0, "a"), (1, 14.0, "a"), (1, 15.0, "a")]]
    local, dist = _both(
        spark, tmp_path, monkeypatch, target=target, source=SOURCE,
        schema=SCHEMA, on="k",
    )
    assert local[0] != "error", local
    assert [r for r in local[0] if r[0] == 1] == [(1, 11.0, "x")] * 5
    assert local == dist


def test_timestamp_key_new_york(spark, tmp_path, monkeypatch):
    """A timestamp key under a non-UTC session time zone: the Arrow
    round trip and the key envelope keep every instant, across both
    DST edges."""
    ts = [
        datetime(2024, 3, 10, 1, 30), datetime(2024, 3, 10, 3, 30),
        datetime(2024, 11, 3, 0, 30), datetime(2024, 11, 3, 2, 30),
        datetime(2024, 11, 4, 9, 0),
    ]
    target = [
        [("A", ts[0], 1.0), ("A", ts[1], 2.0), ("B", ts[2], 3.0)],
        [("B", ts[3], 4.0), ("C", ts[4], 5.0)],
    ]
    source = [("A", ts[1], 20.0), ("B", ts[3], 40.0),
              ("B", datetime(2024, 11, 3, 1, 30), 9.0)]
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        local, dist = _both(
            spark, tmp_path, monkeypatch, target=target, source=source,
            schema="sym string, ts timestamp, px double",
            on=["sym", "ts"],
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert local[0] != "error", local
    assert len(local[0]) == 6
    assert sorted(r[2] for r in local[0]) == [1.0, 3.0, 5.0, 9.0, 20.0, 40.0]
    assert local == dist


def test_row_tracking_agrees(spark, tmp_path, monkeypatch):
    """Updated rows keep their row ids and take the merge's commit
    version, in both plans."""
    local, dist = _both(
        spark, tmp_path, monkeypatch, target=TARGET, source=SOURCE,
        schema=SCHEMA, on="k", row_tracking=True,
    )
    assert local[0] != "error", local
    rows = {r[2]: r for r in local[0]}
    merge_v = max(r[-1] for r in local[0])
    # 1 -> 'x' and 3 -> 'y' carry the ids of 'a' and 'c'
    assert (rows["x"][-2], rows["y"][-2]) == ("a", "c")
    assert rows["x"][-1] == rows["y"][-1] == merge_v
    assert rows["b"][-2] == "b" and rows["b"][-1] < merge_v
    assert (rows["d"][-2], rows["m"][-2]) == ("new", "new")
    assert local == dist


def _record_collects(spark, monkeypatch):
    """Every Arrow collect from now on, as (broadcast threshold at the
    time, bytes collected)."""
    df_cls = type(spark.range(1))
    to_arrow = df_cls.toArrow
    seen = []

    def _recorded(self):
        t = to_arrow(self)
        seen.append(
            (spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
             t.nbytes)
        )
        return t

    monkeypatch.setattr(df_cls, "toArrow", _recorded)
    return seen


@pytest.mark.parametrize("threshold", ["250", "400"],
                         ids=["rows_over_cap", "bytes_over_threshold"])
def test_collect_over_threshold_falls_back(spark, tmp_path, monkeypatch,
                                           threshold):
    """Notes longer than a collected cell carries. The local run
    collects them in a second pass once they are measured to fit;
    under a small positive threshold the bounded collect runs, finds
    the source too big (by rows, or by the notes' bytes) and the
    distributed plan takes over, with the same outcome."""
    seen = _record_collects(spark, monkeypatch)
    source = [(k, q, n * 100) for k, q, n in SOURCE]
    local, dist = _both(
        spark, tmp_path, monkeypatch, threshold=threshold, target=TARGET,
        source=source, schema=SCHEMA, on="k",
    )
    assert local[0] != "error", local
    assert "x" * 100 in {r[2] for r in local[0]}
    assert local == dist
    assert any(t == threshold for t, _ in seen), seen


def test_wide_source_over_threshold_never_collected_whole(
    spark, tmp_path, monkeypatch
):
    """A source of wide strings above the broadcast threshold: the
    bounded collect runs, every Arrow collect the merge runs stays
    under the threshold, and the merge takes the distributed plan."""
    limit = 64 * 1024
    doc = "d" * 4000
    seen = _record_collects(spark, monkeypatch)
    measured = []
    orig = TransactionalLake._measured_bytes
    monkeypatch.setattr(
        TransactionalLake, "_measured_bytes",
        lambda self, *a, **k: measured.append(1) or orig(self, *a, **k),
    )
    lk = TransactionalLake(spark, str(tmp_path / "wide"), partition_by=())
    lk.append(spark.createDataFrame(
        [(k, "old") for k in range(0, 80, 2)], "k long, doc string"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(limit))
    try:
        lk.merge(spark.createDataFrame(
            [(k, doc) for k in range(40)], "k long, doc string"), on="k")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert measured
    merge_collects = [b for t, b in seen if t == str(limit)]
    assert merge_collects, seen
    assert max(merge_collects) <= limit, merge_collects
    got = {r["k"]: r["doc"] for r in lk.snapshot().collect()}
    assert len(got) == 60
    assert all(got[k] == doc for k in range(40))
    assert all(got[k] == "old" for k in range(40, 80, 2))

"""logcore: the log's one replay rule, shared by the driver and the
lake_changes workers. A fold started from any checkpoint must equal
the fold from v0, for every key at every version; and the module
must load without pyspark."""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from market_data_lakehouse_spark import logcore
from market_data_lakehouse_spark.txnlog import TransactionalLake

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _batch(spark, rng, n=6):
    lo = rng.randrange(0, 1000)
    return spark.createDataFrame(
        [
            (lo + i, f"s{(lo + i) % 3}", float(rng.randrange(1, 100)),
             f"2024-06-1{i % 2}")
            for i in range(n)
        ],
        "k long, sym string, v double, date string",
    )


def _ops(spark, tmp_path):
    """Table operations that between them touch every log-owned key:
    adds/removes, vectors and their reset, schema history and its
    reset, per-file stats/rows/bytes/blooms, txn, constraints,
    identity, column mapping, properties, row tracking, clustering,
    defaults, table stats, features, copy sources and layout."""
    src = str(tmp_path / "src")

    def copy_into(lk, rng):
        _batch(spark, rng).coalesce(1).write.mode("append").parquet(src)
        lk.copy_into(src)

    def evolve_and_rename(lk, rng):
        lk.append(
            _batch(spark, rng).withColumn("note", F.lit("n")),
            merge_schema=True,
        )
        lk.rename_column("note", "memo")

    def cluster(lk, rng):
        lk.set_clustering(["k"])
        lk.optimize_clustering()

    return [
        lambda lk, rng: lk.append(_batch(spark, rng)),
        lambda lk, rng: lk.append(
            _batch(spark, rng), txn=("app", rng.randrange(100))
        ),
        evolve_and_rename,
        lambda lk, rng: lk.delete_where("k % 5 = 0"),
        lambda lk, rng: lk.delete_where("k % 7 = 1", mode="dv"),
        lambda lk, rng: lk.update_where("k % 3 = 0", {"v": "v + 1"}),
        lambda lk, rng: lk.optimize(),
        lambda lk, rng: lk.set_properties({"p": str(rng.random())}),
        lambda lk, rng: lk.add_check_constraint(
            f"c{lk.version}", "v >= 0"
        ),
        lambda lk, rng: lk.enable_row_tracking(),
        cluster,
        lambda lk, rng: lk.set_column_default("v", "1.0"),
        lambda lk, rng: lk.analyze(),
        lambda lk, rng: lk.restore(version=rng.randrange(2, lk.version)),
        copy_into,
        lambda lk, rng: lk.set_bloom_columns(["sym"]),
        lambda lk, rng: lk.overwrite(_batch(spark, rng)),
        lambda lk, rng: lk.set_partitioning(("sym",)),
    ]


def _fold_from(log: str, cp: int, v: int) -> dict:
    st = logcore.state_from(logcore.load_checkpoint(log, cp))
    for c in logcore.iter_commits(log, cp + 1, v):
        logcore.apply(st, c)
    return logcore.finish(st)


@pytest.mark.parametrize("part_size", [None, "1"], ids=["single", "multipart"])
def test_fold_from_every_checkpoint_equals_fold_from_v0(
    spark, tmp_path, part_size
):
    rng = random.Random(7)
    path = str(tmp_path / "lk")
    lake = TransactionalLake(
        spark, path, partition_by=("date",),
        generated_columns={"k2": "k * 2"},
    )
    lake.set_identity("rid")
    if part_size:
        lake.set_properties({"checkpoint.partSize": part_size})
    lake.append(_batch(spark, rng))
    lake.append(_batch(spark, rng))
    ops = _ops(spark, tmp_path)
    order = list(range(len(ops)))
    rng.shuffle(order)
    for i in order:
        ops[i](lake, rng)
        lake.checkpoint()
    lake.drop_check_constraint(next(iter(lake.check_constraints())))
    lake.append(_batch(spark, rng))  # blooms, whatever came before
    lake.checkpoint()
    log = lake.log_path
    head = lake.version
    cps = sorted(
        int(f.split(".")[0]) for f in os.listdir(log)
        if f.endswith(".checkpoint")
    )
    if part_size:
        parts = [f for f in os.listdir(log) if ".checkpoint-part-" in f]
        assert parts, "no multipart checkpoint was written"
    # the fold from v0: the commits alone
    bare = str(tmp_path / "bare")
    os.makedirs(bare)
    for v in logcore.commit_versions(log):
        shutil.copy(os.path.join(log, f"{v:08d}.json"), bare)
    seen_keys: set[str] = set()
    for v in range(head + 1):
        want = logcore.fold(bare, v)
        for key, val in want.items():
            if val not in (None, [], {}, -1):
                seen_keys.add(key)
        assert logcore.fold(log, v) == want, f"v{v}"
        for cp in cps:
            if cp <= v:
                got = _fold_from(log, cp, v)
                diff = sorted(k for k in want if got.get(k) != want[k])
                assert not diff, f"v{v} from checkpoint {cp}: {diff}"
    assert seen_keys == set(logcore.finish(logcore.state_from(None))), (
        "a key never took a value: the sequence does not cover it"
    )


def test_logcore_loads_and_folds_without_pyspark(spark, tmp_path):
    """The lake_changes workers read the log through logcore; it must
    import, and fold a real lake, with pyspark unavailable."""
    lake = TransactionalLake(spark, str(tmp_path / "lk"), partition_by=())
    lake.append(spark.createDataFrame([(1, "a")], "k long, s string"))
    lake.append(spark.createDataFrame([(2, "b")], "k long, s string"))
    lake.checkpoint()
    lake.delete_where("k = 1")
    code = (
        "import json, sys\n"
        "sys.modules['pyspark'] = None\n"
        "from market_data_lakehouse_spark import logcore\n"
        f"st = logcore.fold({lake.log_path!r})\n"
        "fields = logcore.merged_fields(st['schemas'])\n"
        "print(json.dumps([st['version'], sorted(st['live']), "
        "[f['name'] for f in fields]]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    live = lake._snapshot_state()[0]
    assert json.loads(out.stdout) == [lake.version, sorted(live), ["k", "s"]]

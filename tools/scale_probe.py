"""Empirical two-point scale curve for representative operators.

The repo's 100 TB claims rest on plan shapes (bounded shuffles,
pushdown, no driver-side data). This probe adds measurement: it
materializes an N-times-larger copy of the tables the probe queries
read (key-shifted per copy so join/session/dedup cardinalities scale
LINEARLY instead of quadratically — identical replicas would make
every LSH bucket N times denser and the pair count N^2), times one
representative query per family at 1x and Nx in the same JVM, and
records the time ratio vs the size ratio plus driver RSS growth.

Near-linear = time ratio <= size ratio (fixed per-job overhead on
local[32] makes sublinear ratios the expected outcome for scan-bound
work); a super-linear query or driver RSS tracking data size is the
red flag this tool exists to catch.

Writes SCALE_PROBE.json at the repo root.

Usage:
    python tools/scale_probe.py            # 1x vs 16x of sf0.1
    python tools/scale_probe.py --factor 8 --sf-dir /root/testdata/sf0.1
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# one representative per family: scan, multi-key agg, join,
# window/sessionize, exact dedup, MinHash LSH, PQ-ANN, RANGE frame
# (the last two added r6 per VERDICT r5 item 5)
PROBES = [
    "s1_scan_project",
    "a4_multikey_100",
    "j1_inner_join",
    "w6_sessionize",
    "e1_dedup_by_hash",
    "e2_minhash_lsh",
    "e3_pq_knn",
    "w11_range_frame",
    # r8 (VERDICT r7 item 2): the graph family — now the two most
    # expensive bench entries — gets the same two-point curve, plus
    # the STRUCTURAL quantities (edge/wedge/message volume) measured
    # exactly in graph_structure(); wall time only correlates with
    # those, the structure ratios are what extrapolate to 100x
    "g1_pagerank",
    "g2_triangle_count",
    "g3_shortest_path",
    # r9 (VERDICT r8 item 4): the two newest iterative queries —
    # second- and fifth-most-expensive bench entries — get the same
    # two-point curve, plus per-round structure counts (k-core
    # surviving edges/nodes; CC rounds-to-convergence and label-sum
    # trajectory) in iterative_graph_structure()
    "g4_kcore",
    "g5_connected_components",
]

# table -> integer key columns shifted by copy_index * (max+1) so each
# replica is a disjoint key universe (joins/sessions stay within-copy)
KEY_SHIFTS = {
    # l_suppkey/l_partkey shift too (r8): without them each copy
    # re-links to the SAME suppliers/parts, so graph degree — and
    # wedge volume, quadratically — grows with the factor instead of
    # the graph growing as more disjoint components of constant
    # degree. Structure-preserving scaling is the 100x question;
    # densification is a different (skew) experiment.
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    # g1_pagerank sizes its node space from customer+supplier counts;
    # supplier keys must shift in lockstep with l_suppkey
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    # embeddings: the query set stays vec_id < N_QUERY (copy 0 only)
    # while the candidate corpus grows by the factor — exactly the
    # serve-time scale axis for the ANN probes
    "embeddings": ["vec_id"],
}

ALPHABET = "abcdefghijklmnopqrstuvwxyz"


def scaled_dir(
    spark, sf_dir: str, factor: int, out_dir: str,
    tables: list[str] | None = None,
) -> None:
    """Write factor-times-larger copies of the probe tables
    (``tables`` restricts the build — the dv-only path needs just
    events)."""
    from pyspark.sql import functions as F

    for table, keys in KEY_SHIFTS.items():
        if tables is not None and table not in tables:
            continue
        src = os.path.join(sf_dir, f"{table}.parquet")
        df = spark.read.parquet(src)
        maxes = df.agg(*[F.max(k).alias(k) for k in keys]).first()
        copies = []
        for i in range(factor):
            c = df
            for k in keys:
                c = c.withColumn(k, F.col(k) + i * (int(maxes[k]) + 1))
            if table == "documents" and i > 0:
                # rotate the alphabet per copy: replicas are NOT
                # textual near-dups of each other, so shingle/LSH
                # structure (dup density per doc) stays constant and
                # candidate volume scales linearly with the corpus
                rot = ALPHABET[i % 26 :] + ALPHABET[: i % 26]
                c = c.withColumn(
                    "text", F.translate("text", ALPHABET, rot)
                )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{table}.parquet")
        )


def rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def time_queries(spark, sf_dir: str) -> dict[str, float]:
    from market_data_lakehouse_spark.queries import REGISTRY

    out = {}
    for name in PROBES:
        fn = REGISTRY[name].fn
        spark._jvm.System.gc()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 4)
    return out


def graph_structure(spark, sf_dir: str) -> dict:
    """Exact structural volumes for the graph probes — the quantities
    that decide the 100x story: PageRank/Bellman-Ford move one
    message per directed edge per iteration; triangle counting
    enumerates one wedge per oriented 2-path. Linear growth of these
    at 16x means the iteration cost curve is the data curve."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    cs = (
        li.select("l_orderkey", "l_suppkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(4000000000) + F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    cs_edges = cs.count()
    cs_nodes = cs.select(F.col("src").alias("n")).union(
        cs.select(F.col("dst").alias("n"))
    ).distinct().count()
    # co-purchase graph (g2): distinct part pairs per order
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    pair_edges = (
        op.alias("x")
        .join(op.alias("y"), (F.col("x.o") == F.col("y.o"))
              & (F.col("x.p") < F.col("y.p")))
        .select(F.col("x.p").alias("a"), F.col("y.p").alias("b"))
        .distinct()
    )
    deg = (
        pair_edges.select(F.col("a").alias("node"))
        .union(pair_edges.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("unoriented"),
    ).first()["unoriented"]
    # oriented wedge volume = sum over nodes of C(out_deg, 2) under
    # the (degree, id) orientation — the volume g2 actually joins
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    ranked = pair_edges.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    out_deg = (
        ranked.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src")
        )
        .groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    )
    oriented_wedges = out_deg.agg(
        F.sum(F.col("od") * (F.col("od") - 1) / 2).alias("w")
    ).first()["w"]
    return {
        "pagerank_nodes": cs_nodes,
        "pagerank_edges_directed": 2 * cs_edges,
        "pagerank_messages_per_iteration": 2 * cs_edges,
        "triangle_edges": pair_edges.count(),
        "triangle_wedges_unoriented": int(wedges),
        "triangle_wedges_oriented": int(oriented_wedges),
    }


def iterative_graph_structure(spark, sf_dir: str) -> dict:
    """Per-round structure counts for the two iterative graph queries
    (r8 VERDICT directive 4), measured by running the PRODUCTION
    kernels with their trace hooks — not probe-local copies:

    - k-core: edges entering each peel round + nodes surviving the
      degree filter. Linear growth of every round's counts at 16x
      means each round's shuffle volume scales with the data.
    - connected components: rounds to convergence + the label-sum
      trajectory. Scaled copies are DISJOINT replicas of the same
      hub structure, so pointer-halving's O(log diameter) prediction
      says the round count must stay FLAT while per-round volumes
      grow linearly — a rising round count would multiply, not add,
      cost at 100x.
    """
    from pyspark.sql import functions as F

    from market_data_lakehouse_spark.queries.dedup import (
        connected_components,
    )
    from market_data_lakehouse_spark.queries.relational import _kcore_peel

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    e0 = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            li.select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .filter((F.col("o_custkey") + F.col("l_suppkey")) % 3 == 0)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(4000000000) + F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    und = (
        e0.union(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    ktrace: list[dict] = []
    _kcore_peel(und, k=17, rounds=4, trace=ktrace).write.format(
        "noop"
    ).mode("overwrite").save()
    ctrace: list[dict] = []
    nodes = (
        e0.select(F.col("src").alias("u"))
        .union(e0.select(F.col("dst").alias("u")))
        .distinct()
    )
    cc_edges = e0.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    connected_components(nodes, cc_edges, trace=ctrace).write.format(
        "noop"
    ).mode("overwrite").save()
    return {
        "kcore_rounds": ktrace,
        "cc_rounds_to_convergence": len(ctrace),
        "cc_label_sum_trajectory": [t["label_sum"] for t in ctrace],
    }


def dv_dml_probe(spark, sf_dir: str) -> dict:
    """r10 (VERDICT r9 directive 6): two-point scale evidence for the
    merge-on-read DML path (``_read_files`` + dv commit). Each
    verb gets a FRESH flat lake built from events (build excluded
    from timing): dv DELETE with matched rows growing with the table,
    dv DELETE with a FIXED matched set, dv UPDATE, dv MERGE, plus the
    bare predicate-scan baseline. The claim under test: total op time
    is scan-bound (grows at most linearly with table size), and the
    dv machinery on top of the scan (positions collect + commit) is
    O(matched rows) — so the FIXED-match delete's scan-subtracted
    overhead stays flat while the table grows 16x."""
    from pyspark.sql import functions as F  # noqa: F401

    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "event_type", "value"
    )
    ops = {
        "delete_dv_grow": (
            "event_id % 97 = 0",
            lambda tx: tx.delete_where("event_id % 97 = 0", mode="dv"),
        ),
        "delete_dv_fixed": (
            "event_id < 1000",
            lambda tx: tx.delete_where("event_id < 1000", mode="dv"),
        ),
        "update_dv": (
            "event_id % 89 = 1",
            lambda tx: tx.update_where(
                "event_id % 89 = 1", {"value": "value + 1"}, mode="dv"
            ),
        ),
        "merge_dv": (
            "event_id % 101 = 0",
            lambda tx: tx.merge(
                tx.spark.read.parquet(
                    os.path.join(sf_dir, "events.parquet")
                )
                .select("event_id", "event_type", "value")
                .filter("event_id % 101 = 0"),
                on="event_id",
                mode="dv",
            ),
        ),
    }
    # JIT/codegen warmup outside any measurement: one throwaway dv
    # delete on a tiny lake (the first dv op in a JVM pays one-time
    # codegen that would otherwise land on whichever op runs first)
    wd = tempfile.mkdtemp(prefix="dvprobe_warm_")
    try:
        warm = TransactionalLake(
            spark, os.path.join(wd, "t"), partition_by=()
        )
        warm.append(ev.limit(500))
        warm.delete_where("event_id % 5 = 0", mode="dv")
        warm.snapshot().count()
    finally:
        shutil.rmtree(wd, ignore_errors=True)
    out: dict = {}
    for tag, (pred, run) in ops.items():
        d = tempfile.mkdtemp(prefix=f"dvprobe_{tag}_")
        try:
            tx = TransactionalLake(
                spark, os.path.join(d, "t"), partition_by=()
            )
            tx.append(ev.repartition(8))
            matched = tx.snapshot().filter(pred).count()  # warms cache
            # bare predicate scan on the SAME lake shape — what an
            # O(table) read costs here regardless of any dv work
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            tx.snapshot().filter(pred).count()
            scan_sec = time.perf_counter() - t0
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            run(tx)
            sec = time.perf_counter() - t0
        finally:
            shutil.rmtree(d, ignore_errors=True)
        out[tag] = {
            "matched_rows": matched,
            "op_sec": round(sec, 4),
            "scan_sec": round(scan_sec, 4),
            "overhead_sec": round(max(sec - scan_sec, 0.0), 4),
        }
    return out


def dv_block(base_dv: dict, scaled_dv: dict, factor: int) -> dict:
    """Ratio summary for the dv-DML two-point curve."""
    return {
        "base": base_dv,
        "scaled": scaled_dv,
        "per_op": {
            op: {
                "matched_ratio": round(
                    scaled_dv[op]["matched_rows"]
                    / max(base_dv[op]["matched_rows"], 1),
                    2,
                ),
                "time_ratio": round(
                    scaled_dv[op]["op_sec"]
                    / max(base_dv[op]["op_sec"], 1e-9),
                    2,
                ),
                "scan_ratio": round(
                    scaled_dv[op]["scan_sec"]
                    / max(base_dv[op]["scan_sec"], 1e-9),
                    2,
                ),
                # meaningless below measurement noise — null it
                "overhead_ratio": (
                    round(
                        scaled_dv[op]["overhead_sec"]
                        / base_dv[op]["overhead_sec"],
                        2,
                    )
                    if base_dv[op]["overhead_sec"] >= 0.05
                    else None
                ),
                # scan-bound: total time grows at most like the
                # table (the scan), never faster
                "near_linear": scaled_dv[op]["op_sec"]
                / max(base_dv[op]["op_sec"], 1e-9)
                <= factor,
            }
            for op in base_dv
        },
    }


def row_tracking_probe(spark, sf_dir: str) -> dict:
    """r10: two-point scale evidence for ROW TRACKING. Claims under
    test: (a) ``enable_row_tracking`` on a populated table is
    metadata-priced — O(live files), flat while the file count is
    fixed and rows grow 16x; (b) the ``with_row_ids`` read costs one
    broadcast join over the scan — its time grows like the plain
    scan, never faster; (c) the id-preserving CoW update stays
    scan-bound (the materialized-id machinery adds O(rewritten rows),
    not a new asymptotic term)."""
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "event_type", "value"
    )
    from pyspark.sql import functions as F

    # one-time codegen/JIT for the with_row_ids plan shape lands on
    # whichever scale point runs first — warm it on a tiny lake
    # OUTSIDE any measurement (same treatment as dv_dml_probe)
    wd = tempfile.mkdtemp(prefix="rtprobe_warm_")
    try:
        warm = TransactionalLake(
            spark, os.path.join(wd, "t"), partition_by=()
        )
        warm.append(ev.limit(500))
        warm.enable_row_tracking()
        warm.snapshot(with_row_ids=True).agg(F.sum("value")).collect()
    finally:
        shutil.rmtree(wd, ignore_errors=True)

    d = tempfile.mkdtemp(prefix="rtprobe_")
    try:
        tx = TransactionalLake(spark, os.path.join(d, "t"), partition_by=())
        tx.append(ev.repartition(8))
        n = tx.snapshot().count()  # warms cache

        spark._jvm.System.gc()
        t0 = time.perf_counter()
        tx.enable_row_tracking()
        enable_sec = time.perf_counter() - t0

        # same full-scan aggregate on both sides, so the rt/plain
        # ratio isolates the id computation (broadcast join +
        # coalesce), not count()'s row-group-elision shortcut
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        tx.snapshot().agg(F.sum("value")).collect()
        plain_sec = time.perf_counter() - t0

        spark._jvm.System.gc()
        t0 = time.perf_counter()
        ids = tx.snapshot(with_row_ids=True)
        ids.agg(F.sum("value")).collect()
        rt_read_sec = time.perf_counter() - t0
        n_ids = ids.count()
        uniq = ids.select("_row_id").distinct().count()

        spark._jvm.System.gc()
        t0 = time.perf_counter()
        tx.update_where("event_id % 89 = 1", {"value": "value + 1"})
        cow_update_sec = time.perf_counter() - t0
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return {
        "rows": n,
        "ids_complete_and_unique": n == n_ids == uniq,
        "enable_sec": round(enable_sec, 4),
        "plain_read_sec": round(plain_sec, 4),
        "rt_read_sec": round(rt_read_sec, 4),
        "rt_read_overhead_vs_plain": round(
            rt_read_sec / max(plain_sec, 1e-9), 2
        ),
        "cow_update_sec": round(cow_update_sec, 4),
    }


def metadata_fold_probe(spark) -> dict:
    """r11 (VERDICT r10 #4): per-operation METADATA cost vs COMMIT
    COUNT. ``_row_tracking_state`` and ``_column_mapping_doc`` fold
    checkpoint + tail; the claim is that their cost — and the commit
    files they actually open — stays FLAT as the log grows (bounded
    by checkpoint_every, not by history length). Builds one table,
    drives the commit count to ~100 and ~1000 via set_properties
    (real API, metadata-only, no Spark jobs), and at each milestone
    measures wall time + a ``_read_commit`` spy count for the
    row-tracking fold, the mapping fold, and one real append (the
    row-base reservation path)."""
    import statistics

    from pyspark.sql import functions as F

    from market_data_lakehouse_spark.txnlog import TransactionalLake

    d = tempfile.mkdtemp(prefix="metaprobe_")
    try:
        tx = TransactionalLake(spark, os.path.join(d, "t"), partition_by=())
        one = spark.range(4).select(
            F.col("id").alias("k"), F.lit(1.0).alias("v")
        ).coalesce(1)
        for _ in range(4):
            tx.append(one)
        tx.enable_row_tracking()
        tx.rename_column("v", "val")

        def measure() -> dict:
            calls = {"n": 0}
            orig = tx._read_commit

            def spy(v):
                calls["n"] += 1
                return orig(v)

            tx._read_commit = spy
            try:
                samples_rt, samples_map = [], []
                for _ in range(20):
                    t0 = time.perf_counter()
                    tx._row_tracking_state()
                    samples_rt.append(time.perf_counter() - t0)
                reads_per_rt = calls["n"] / 20
                calls["n"] = 0
                for _ in range(20):
                    t0 = time.perf_counter()
                    tx._column_mapping_doc()
                    samples_map.append(time.perf_counter() - t0)
                reads_per_map = calls["n"] / 20
                calls["n"] = 0
                t0 = time.perf_counter()
                tx.append(one)
                append_sec = time.perf_counter() - t0
                reads_append = calls["n"]
            finally:
                tx._read_commit = orig
            return {
                "commits": tx.version + 1,
                "rt_fold_ms": round(
                    statistics.median(samples_rt) * 1e3, 3
                ),
                "map_fold_ms": round(
                    statistics.median(samples_map) * 1e3, 3
                ),
                "append_sec": round(append_sec, 3),
                "read_commit_per_rt_fold": round(reads_per_rt, 1),
                "read_commit_per_map_fold": round(reads_per_map, 1),
                "read_commit_per_append": reads_append,
            }

        while tx.version + 1 < 100:
            tx.set_properties({"probe.tick": str(tx.version)})
        at_100 = measure()
        while tx.version + 1 < 1000:
            tx.set_properties({"probe.tick": str(tx.version)})
        at_1000 = measure()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    # the fold opens checkpoint + tail: the spy count must be bounded
    # by checkpoint_every (20), and must NOT grow ~10x with the log
    flat_reads = (
        at_1000["read_commit_per_rt_fold"]
        <= max(2 * at_100["read_commit_per_rt_fold"], 25)
        and at_1000["read_commit_per_map_fold"]
        <= max(2 * at_100["read_commit_per_map_fold"], 25)
    )
    return {
        "at_100_commits": at_100,
        "at_1000_commits": at_1000,
        "fold_reads_flat": flat_reads,
        "fold_wall_ratio_rt": round(
            at_1000["rt_fold_ms"] / max(at_100["rt_fold_ms"], 1e-6), 2
        ),
        "fold_wall_ratio_map": round(
            at_1000["map_fold_ms"] / max(at_100["map_fold_ms"], 1e-6), 2
        ),
        "note": (
            "checkpoint+tail fold: commit files OPENED per metadata "
            "op bounded by checkpoint_every=20 regardless of log "
            "length; head reads resolve via the _last_checkpoint "
            "pointer + an O(tail) direct version walk — no "
            "O(commits) directory listing anywhere on the head path"
        ),
    }


def crc_probe(spark) -> dict:
    """r11: per-commit CHECKSUM cost vs commit count. Claims under
    test: (1) pure appends write the sidecar INCREMENTALLY
    (mode=inc) off the predecessor — flat wall as the log grows;
    (2) a mutating commit's full refold is bounded by
    checkpoint_every (the O(tail) head read), not history length;
    (3) verify_checksum() stays an on-demand audit whose cost
    tracks tail + live files, not commit count. Same 100- vs
    1000-commit milestones as the metadata-fold probe."""
    import statistics

    from pyspark.sql import functions as F

    from market_data_lakehouse_spark.txnlog import TransactionalLake

    d = tempfile.mkdtemp(prefix="crcprobe_")
    try:
        tx = TransactionalLake(spark, os.path.join(d, "t"), partition_by=())
        one = spark.range(64).select(
            F.col("id").alias("k"), F.lit(1.0).alias("v")
        ).coalesce(1)
        for _ in range(4):
            tx.append(one)

        def measure() -> dict:
            # append (hot path: crc must ride incrementally)
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                tx.append(one)
                samples.append(time.perf_counter() - t0)
            head_crc = tx._read_crc(tx.version)
            append_mode = head_crc.get("mode")
            # mutating commit (full refold, bounded by tail)
            t0 = time.perf_counter()
            tx.delete_where("k = 1", mode="dv")
            dv_sec = time.perf_counter() - t0
            dv_mode = tx._read_crc(tx.version).get("mode")
            # clear the vectors so the next milestone starts clean
            tx.optimize()
            t0 = time.perf_counter()
            tx.verify_checksum()
            verify_sec = time.perf_counter() - t0
            return {
                "commits": tx.version + 1,
                "append_sec": round(statistics.median(samples), 3),
                "append_crc_mode": append_mode,
                "dv_delete_sec": round(dv_sec, 3),
                "dv_crc_mode": dv_mode,
                "verify_sec": round(verify_sec, 4),
                "num_files": tx._read_crc(tx.version)["num_files"],
            }

        while tx.version + 1 < 100:
            tx.set_properties({"probe.tick": str(tx.version)})
        at_100 = measure()
        while tx.version + 1 < 1000:
            tx.set_properties({"probe.tick": str(tx.version)})
        at_1000 = measure()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    append_flat = at_1000["append_sec"] <= 2 * at_100["append_sec"]
    verify_flat = at_1000["verify_sec"] <= max(
        3 * at_100["verify_sec"], 0.05
    )
    return {
        "at_100_commits": at_100,
        "at_1000_commits": at_1000,
        "append_wall_ratio": round(
            at_1000["append_sec"] / max(at_100["append_sec"], 1e-6), 2
        ),
        "verify_wall_ratio": round(
            at_1000["verify_sec"] / max(at_100["verify_sec"], 1e-6), 2
        ),
        "append_incremental_both": (
            at_100["append_crc_mode"] == "inc"
            and at_1000["append_crc_mode"] == "inc"
        ),
        "flat": append_flat and verify_flat,
        "note": (
            "append sidecars ride the predecessor in O(new files); "
            "mutating commits refold checkpoint+tail (the same "
            "O(tail) head read every DML already pays); "
            "verify_checksum is on-demand, cost tracks tail + live "
            "files, never raw commit count"
        ),
    }


def cluster_probe(spark) -> dict:
    """r11: LIQUID CLUSTERING incremental-maintenance cost vs TABLE
    size. The 100 TB claim is that a maintenance pass costs
    O(rows appended since the last pass), not O(table): rewrite only
    the unclustered files. Build a clustered table, time an
    incremental pass over one fixed-size increment, grow the table
    8x, time the SAME-size increment again — the wall must track the
    increment (flat), and the pass's rewrite set must be exactly the
    unclustered files (counted from the commit log)."""
    from pyspark.sql import functions as F

    from market_data_lakehouse_spark.txnlog import TransactionalLake

    d = tempfile.mkdtemp(prefix="clusterprobe_")
    rows_per_batch = 250_000

    def batch(seed: int):
        return (
            spark.range(seed * rows_per_batch, (seed + 1) * rows_per_batch)
            .select(
                (F.col("id") * 2654435761 % 1000003).alias("k"),
                (F.col("id") % 97).cast("double").alias("v"),
            )
            .repartition(4)
        )

    def timed_increment(tx, seed: int) -> dict:
        tx.append(batch(seed))
        live_before, *_ = tx._snapshot_state()
        unclustered = [
            f
            for f in live_before
            if f not in tx._clustering_state()["clustered"]
        ]
        t0 = time.perf_counter()
        tx.optimize_clustering()
        wall = time.perf_counter() - t0
        c = tx._read_commit(tx.version)
        return {
            "table_files": len(live_before),
            "unclustered_before": len(unclustered),
            "files_rewritten": len(c.get("remove", [])),
            "rewrite_exact": sorted(c.get("remove", []))
            == sorted(unclustered),
            "pass_sec": round(wall, 3),
        }

    try:
        tx = TransactionalLake(spark, os.path.join(d, "t"), partition_by=())
        for s in range(4):
            tx.append(batch(s))
        tx.set_clustering("k")
        tx.optimize_clustering(full=True)
        small = timed_increment(tx, 4)
        for s in range(5, 33):  # grow the CLUSTERED table ~8x
            tx.append(batch(s))
        tx.optimize_clustering()
        big = timed_increment(tx, 33)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    ratio = round(big["pass_sec"] / max(small["pass_sec"], 1e-6), 2)
    return {
        "rows_per_increment": rows_per_batch,
        "small_table": small,
        "big_table": big,
        "pass_wall_ratio_at_8x_table": ratio,
        "increment_bound": ratio <= 2.0
        and small["rewrite_exact"]
        and big["rewrite_exact"],
        "note": (
            "maintenance rewrites exactly the unclustered file set; "
            "wall tracks the increment, not the table — the property "
            "that keeps OPTIMIZE affordable on a 100 TB clustered "
            "table ingesting a few GB per trigger"
        ),
    }


def rt_block(base_rt: dict, scaled_rt: dict, factor: int) -> dict:
    """Ratio summary for the row-tracking two-point curve."""
    ratios = {
        k: round(scaled_rt[k] / max(base_rt[k], 1e-9), 2)
        for k in ("enable_sec", "rt_read_sec", "cow_update_sec")
    }
    return {
        "base": base_rt,
        "scaled": scaled_rt,
        "ratios": ratios,
        "ids_ok_both": (
            base_rt["ids_complete_and_unique"]
            and scaled_rt["ids_complete_and_unique"]
        ),
        # enable is O(files): with the file count pinned at 8 it
        # must not track the 16x row growth
        "enable_metadata_priced": ratios["enable_sec"] <= factor / 2,
        "near_linear": all(r <= factor for r in ratios.values()),
    }


def lsh_pair_counts() -> dict:
    """Candidate-volume observability: the LSH probes' pair counts
    from the runs time_queries just executed — the pair growth ratio
    is the number that predicts sf1+ cost, wall time only correlates
    with it."""
    from market_data_lakehouse_spark.queries import dedup

    return {
        q: dedup.pair_metrics(q)
        for q in ("e2_minhash_lsh", "e2_lsh_verified_jaccard")
        if q in PROBES
    }


def vacuum_lite_probe(spark) -> dict:
    """VACUUM LITE vs FULL at two file-count scales (r12): lite's
    candidate discovery reads the retained LOG (O(commits)), full
    WALKS the data directory (O(files)). The receipt that matters
    for 100 TB: full's dry-run wall grows with the file count, lite's
    does not (both at equal removable-file counts = 0 so the probe
    measures pure DISCOVERY cost, no unlinks)."""
    import shutil
    import tempfile
    import time as _t

    from market_data_lakehouse_spark.txnlog import TransactionalLake

    out = {}
    for label, n_files in (("small", 200), ("large", 1600)):
        root = tempfile.mkdtemp(prefix=f"vlprobe_{label}_")
        # STEADY-STATE shape: the log is regularly truncated
        # (vacuum_log), so lite's discovery reads only the post-
        # checkpoint TAIL — a few commits — while full must walk
        # every live file the table ever accumulated. checkpoint
        # cadence 4 so the bulk-load commits fall behind a boundary.
        lake = TransactionalLake(
            spark, root + "/t", partition_by=(), checkpoint_every=4
        )
        per = n_files // 8
        for i in range(8):
            lake.append(
                spark.range(i * per * 10, (i + 1) * per * 10)
                .selectExpr("id as k", "id * 1.5 as v")
                .repartition(per)
            )
        lake.vacuum_log()  # truncate: history handled before here
        # a small tail of removable debt, identical at both scales
        lake.set_properties(
            {"retentionDurationCheck.enabled": "false"})
        lake.append(
            spark.range(4).selectExpr(
                "id + 1000000000 as k", "id * 1.0 as v"
            ).repartition(4))
        lake.optimize(min_file_size=10**9, where={"k": (10**9, 10**9 + 10)})
        t0 = _t.perf_counter()
        lite = lake.vacuum(retention_seconds=0, dry_run=True, lite=True)
        lite_s = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        full = lake.vacuum(retention_seconds=0, dry_run=True)
        full_s = _t.perf_counter() - t0
        assert sorted(lite) == sorted(full), (lite, full)
        out[f"at_{n_files}_files"] = {
            "files": n_files,
            "lite_dry_run_sec": round(lite_s, 4),
            "full_dry_run_sec": round(full_s, 4),
            "lite_candidates": len(lite),
            "full_candidates": len(full),
        }
        shutil.rmtree(root, ignore_errors=True)
    s, l = out["at_200_files"], out["at_1600_files"]
    out["lite_wall_ratio_8x_files"] = round(
        l["lite_dry_run_sec"] / max(s["lite_dry_run_sec"], 1e-9), 2
    )
    out["full_wall_ratio_8x_files"] = round(
        l["full_dry_run_sec"] / max(s["full_dry_run_sec"], 1e-9), 2
    )
    out["lite_flat_vs_files"] = (
        out["lite_wall_ratio_8x_files"]
        < out["full_wall_ratio_8x_files"]
    )
    out["note"] = (
        "steady-state shape (log truncated by vacuum_log, small "
        "removable tail, candidates IDENTICAL lite==full): lite "
        "reads the post-checkpoint commit tail, full walks the "
        "whole data tree - at 8x the live files, full's discovery "
        "scales with the tree while lite tracks the tail"
    )
    return out


def partition_delete_probe(spark) -> dict:
    """Metadata-only partition DELETE vs the scan path at two row
    scales (r12): the fast path classifies files from the log (zero
    jobs), the scan path reads every candidate file to rewrite
    survivors. Receipt for 100 TB: fast-path wall stays flat as the
    table grows 8x, scan-path wall grows with the data. Same table,
    same-sized partitions; the scan arm is the SAME predicate
    wrapped in parens (which the proof parser deliberately rejects),
    so both arms delete one identical-sized partition."""
    import shutil
    import tempfile
    import time as _t

    from market_data_lakehouse_spark.txnlog import TransactionalLake

    # untimed warmup: the first scan-path delete pays JVM/codegen
    # warmup that would otherwise land entirely on the SMALL arm and
    # invert the scan ratio
    wroot = tempfile.mkdtemp(prefix="pdprobe_warm_")
    warm = TransactionalLake(spark, wroot + "/t", partition_by=("date",))
    warm.append(
        spark.range(10_000).selectExpr(
            "id as k", "id * 1.5 as v", "'2024-06-14' as date"
        )
    )
    warm.delete_where("(date = '2024-06-14')")
    shutil.rmtree(wroot, ignore_errors=True)

    out = {}
    for label, mult in (("small", 1), ("large", 8)):
        root = tempfile.mkdtemp(prefix=f"pdprobe_{label}_")
        lake = TransactionalLake(
            spark, root + "/t", partition_by=("date",)
        )
        n = 100_000 * mult
        for d in ("2024-06-14", "2024-06-15", "2024-06-16"):
            lake.append(
                spark.range(n)
                .selectExpr(
                    "id as k", "id * 1.5 as v", f"'{d}' as date"
                )
                .repartition(8)
            )
        t0 = _t.perf_counter()
        lake.delete_where("date = '2024-06-14'")  # fast path
        fast_s = _t.perf_counter() - t0
        assert lake.history()[0].get("metadata_only") is True
        t0 = _t.perf_counter()
        lake.delete_where("(date = '2024-06-15')")  # scan path
        scan_s = _t.perf_counter() - t0
        assert lake.history()[0].get("metadata_only") is None
        assert lake.snapshot().count() == n
        out[f"at_{n}_rows_per_partition"] = {
            "rows_per_partition": n,
            "fast_path_sec": round(fast_s, 4),
            "scan_path_sec": round(scan_s, 4),
        }
        shutil.rmtree(root, ignore_errors=True)
    s = out["at_100000_rows_per_partition"]
    l = out["at_800000_rows_per_partition"]
    out["fast_wall_ratio_8x_rows"] = round(
        l["fast_path_sec"] / max(s["fast_path_sec"], 1e-9), 2
    )
    out["scan_wall_ratio_8x_rows"] = round(
        l["scan_path_sec"] / max(s["scan_path_sec"], 1e-9), 2
    )
    out["fast_flat_vs_rows"] = (
        out["fast_wall_ratio_8x_rows"] < out["scan_wall_ratio_8x_rows"]
    )
    out["note"] = (
        "same table, one identical-sized partition deleted per arm; "
        "the scan arm is the same predicate in parens (proof parser "
        "rejects it by design) - the fast path is O(live files) "
        "driver work at any row count, the scan path reads the "
        "matched partition to rewrite zero survivors"
    )
    return out


def merge_exprs_skipping_probe(spark) -> dict:
    """r13: the new merge forms (per-column SET expressions +
    matched-clause condition) must ride the SAME key-envelope data
    skipping as whole-row merge — the projection changed, the probe
    scan must not. Structural receipt: _prune_by_key_ranges is
    instrumented during a set_exprs + matched_condition merge whose
    source keys live in ONE file; at 8 and 64 same-sized files the
    probed set stays [1, 1] while the live set grows 8x. A
    correctness echo pins the conditioned SET postimage at both
    scales."""
    import shutil
    import tempfile
    import time as _t

    from market_data_lakehouse_spark.txnlog import TransactionalLake

    per = 50_000
    out: dict = {}
    for label, n_files in (("small", 8), ("large", 64)):
        root = tempfile.mkdtemp(prefix=f"mxsp_{label}_")
        lake = TransactionalLake(spark, root + "/t", partition_by=())
        for i in range(n_files):
            lake.append(
                spark.range(i * per, (i + 1) * per)
                .selectExpr("id as k", "cast(id * 1.5 as double) as v")
                .coalesce(1)
            )
        probed: dict = {}
        orig = lake._prune_by_key_ranges

        def spy(files, ranges, _o=orig, _p=probed):
            kept = _o(files, ranges)
            _p["n"], _p["total"] = len(kept), len(files)
            return kept

        lake._prune_by_key_ranges = spy  # type: ignore
        src = spark.createDataFrame(
            [(3 * per + 5, 7.0), (3 * per + 6, 8.0)],
            "k long, v double",
        )
        t0 = _t.perf_counter()
        lake.merge(
            src, on=["k"],
            set_exprs={"v": "v + source.v"},
            matched_condition="source.v > 0",
            when_not_matched="ignore",
        )
        sec = round(_t.perf_counter() - t0, 4)
        lake._prune_by_key_ranges = orig  # type: ignore
        got = lake.snapshot().filter(f"k = {3 * per + 5}").first()["v"]
        want = (3 * per + 5) * 1.5 + 7.0
        assert abs(got - want) < 1e-6, (got, want)
        out[f"at_{n_files}_files"] = {
            "files": n_files,
            "merge_files_probed": probed["n"],
            "live_files": probed["total"],
            "set_exprs_merge_sec": sec,
        }
        shutil.rmtree(root, ignore_errors=True)
    out["probe_scope"] = [
        out["at_8_files"]["merge_files_probed"],
        out["at_64_files"]["merge_files_probed"],
    ]
    out["probe_scope_flat"] = out["probe_scope"] == [1, 1]
    out["note"] = (
        "r13 merge grammar (SET expressions, clause conditions) "
        "reuses the r12 key-envelope skipping unchanged: the probe "
        "set is [1, 1] files as the table grows 8 -> 64 files, and "
        "the conditioned SET postimage is value-checked at both "
        "scales"
    )
    return out


def exists_dml_skipping_probe(spark) -> dict:
    """r14: EXISTS subquery DML decorrelates onto the merge engine,
    so it must ride the SAME key-envelope skipping as any key merge —
    the probe pins it end-to-end THROUGH THE SQL FRONT-END (parse →
    decorrelate → merge), not just the engine call. Structural
    receipt: _prune_by_key_ranges instrumented during ``DELETE FROM t
    WHERE EXISTS (SELECT 1 FROM s WHERE s.k = t.k)`` whose source
    keys live in ONE file; at 8 and 64 same-sized files the probed
    set stays [1, 1]. A correctness echo pins the deleted rows at
    both scales."""
    import shutil
    import tempfile
    import time as _t

    from market_data_lakehouse_spark.sqlfront import LakeSQL
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    per = 50_000
    out: dict = {}
    for label, n_files in (("small", 8), ("large", 64)):
        root = tempfile.mkdtemp(prefix=f"exsp_{label}_")
        lake = TransactionalLake(spark, root + "/t", partition_by=())
        for i in range(n_files):
            lake.append(
                spark.range(i * per, (i + 1) * per)
                .selectExpr("id as k", "cast(id * 1.5 as double) as v")
                .coalesce(1)
            )
        src = TransactionalLake(spark, root + "/s", partition_by=())
        src.append(
            spark.createDataFrame(
                [(3 * per + 5,), (3 * per + 6,)], "k long"
            )
        )
        fr = LakeSQL(spark)
        fr.register("ext", lake)
        fr.register("exs", src)
        probed: dict = {}
        orig = lake._prune_by_key_ranges

        def spy(files, ranges, _o=orig, _p=probed):
            kept = _o(files, ranges)
            _p["n"], _p["total"] = len(kept), len(files)
            return kept

        lake._prune_by_key_ranges = spy  # type: ignore
        t0 = _t.perf_counter()
        fr.sql(
            "DELETE FROM ext WHERE EXISTS "
            "(SELECT 1 FROM exs s WHERE s.k = ext.k)"
        )
        sec = round(_t.perf_counter() - t0, 4)
        lake._prune_by_key_ranges = orig  # type: ignore
        n_left = lake.snapshot().filter(
            f"k IN ({3 * per + 5}, {3 * per + 6})"
        ).count()
        assert n_left == 0, n_left
        assert lake.snapshot().count() == n_files * per - 2
        out[f"at_{n_files}_files"] = {
            "files": n_files,
            "merge_files_probed": probed["n"],
            "live_files": probed["total"],
            "exists_delete_sec": sec,
        }
        shutil.rmtree(root, ignore_errors=True)
    out["probe_scope"] = [
        out["at_8_files"]["merge_files_probed"],
        out["at_64_files"]["merge_files_probed"],
    ]
    out["probe_scope_flat"] = out["probe_scope"] == [1, 1]
    out["note"] = (
        "r14 EXISTS subquery DML (SQL front-end decorrelation -> "
        "key MERGE) rides the key-envelope skipping unchanged: the "
        "probe set is [1, 1] files as the table grows 8 -> 64 files, "
        "deleted rows value-checked at both scales"
    )
    return out


def corr_scalar_dml_skipping_probe(spark) -> dict:
    """r15: correlated scalar-subquery DML decorrelates onto the
    merge engine, and its NULL-skip shape (``v < (SELECT agg ...)``,
    empty value NULL, plain-comparison predicate) must (a) ride the
    SAME key-envelope skipping as any key merge and (b) stay
    merge-on-read on a dv-opted table — both pinned end-to-end
    THROUGH THE SQL FRONT-END. Structural receipts at 8 and 64
    same-sized files: the probed set stays [1, 1], the dv commit
    leaves the file set untouched (op stamps ``merge_dv``), and a
    correctness echo pins the deleted rows at both scales."""
    import shutil
    import tempfile
    import time as _t

    from market_data_lakehouse_spark.sqlfront import LakeSQL
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    per = 50_000
    out: dict = {}
    for label, n_files in (("small", 8), ("large", 64)):
        root = tempfile.mkdtemp(prefix=f"cssp_{label}_")
        lake = TransactionalLake(spark, root + "/t", partition_by=())
        for i in range(n_files):
            lake.append(
                spark.range(i * per, (i + 1) * per)
                .selectExpr("id as k", "cast(id * 1.5 as double) as v")
                .coalesce(1)
            )
        src = TransactionalLake(spark, root + "/s", partition_by=())
        src.append(
            spark.createDataFrame(
                [(3 * per + 5, 1e12), (3 * per + 6, 1e12)],
                "k long, x double",
            )
        )
        fr = LakeSQL(spark)
        fr.register("cst", lake)
        fr.register("css", src)
        fr.sql(
            "ALTER TABLE cst SET TBLPROPERTIES "
            "('delta.enableDeletionVectors' = 'true')"
        )
        files_before, _, _ = lake.prune_files({})
        probed: dict = {}
        orig = lake._prune_by_key_ranges

        def spy(files, ranges, _o=orig, _p=probed):
            kept = _o(files, ranges)
            _p["n"], _p["total"] = len(kept), len(files)
            return kept

        lake._prune_by_key_ranges = spy  # type: ignore
        t0 = _t.perf_counter()
        fr.sql(
            "DELETE FROM cst WHERE v < "
            "(SELECT min(s.x) FROM css s WHERE s.k = cst.k)"
        )
        sec = round(_t.perf_counter() - t0, 4)
        lake._prune_by_key_ranges = orig  # type: ignore
        files_after, _, _ = lake.prune_files({})
        assert set(files_before) == set(files_after), "dv must not rewrite"
        op = lake.history(limit=1)[0]["op"]
        assert op == "merge_dv", op
        n_left = lake.snapshot().filter(
            f"k IN ({3 * per + 5}, {3 * per + 6})"
        ).count()
        assert n_left == 0, n_left
        assert lake.snapshot().count() == n_files * per - 2
        out[f"at_{n_files}_files"] = {
            "files": n_files,
            "merge_files_probed": probed["n"],
            "live_files": probed["total"],
            "corr_scalar_delete_sec": sec,
            "dv_file_set_untouched": True,
        }
        shutil.rmtree(root, ignore_errors=True)
    out["probe_scope"] = [
        out["at_8_files"]["merge_files_probed"],
        out["at_64_files"]["merge_files_probed"],
    ]
    out["probe_scope_flat"] = out["probe_scope"] == [1, 1]
    out["note"] = (
        "r15 correlated scalar-subquery DML (SQL front decorrelation "
        "-> per-key aggregate + key MERGE) rides the key-envelope "
        "skipping unchanged ([1, 1] files at 8 -> 64) AND stays "
        "merge-on-read on a dv-opted table (file set untouched, "
        "merge_dv op), deleted rows value-checked at both scales"
    )
    return out


def corr_in_dml_skipping_probe(spark) -> dict:
    """r16: correlated IN-subquery DML (``k IN (SELECT s.x FROM s
    WHERE s.j = t.g)``) decorrelates onto the same key-MERGE probe
    as EXISTS — matched-only arm, so it must (a) ride the
    key-envelope skipping ([1, 1] files probed at 8 -> 64 same-sized
    files: the IN column's synthesized join key carries the tight
    envelope) and (b) stay merge-on-read on a dv-opted table —
    pinned end-to-end THROUGH THE SQL FRONT-END with a correctness
    echo at both scales."""
    import shutil
    import tempfile
    import time as _t

    from market_data_lakehouse_spark.sqlfront import LakeSQL
    from market_data_lakehouse_spark.txnlog import TransactionalLake

    per = 50_000
    out: dict = {}
    for label, n_files in (("small", 8), ("large", 64)):
        root = tempfile.mkdtemp(prefix=f"cisp_{label}_")
        lake = TransactionalLake(spark, root + "/t", partition_by=())
        for i in range(n_files):
            lake.append(
                spark.range(i * per, (i + 1) * per)
                .selectExpr(
                    "id as k",
                    "id % 97 as g",
                    "cast(id * 1.5 as double) as v",
                )
                .coalesce(1)
            )
        k1, k2 = 3 * per + 5, 3 * per + 6
        src = TransactionalLake(spark, root + "/s", partition_by=())
        src.append(
            spark.createDataFrame(
                [(k1 % 97, k1), (k2 % 97, k2)], "j long, x long"
            )
        )
        fr = LakeSQL(spark)
        fr.register("cit", lake)
        fr.register("cis", src)
        fr.sql(
            "ALTER TABLE cit SET TBLPROPERTIES "
            "('delta.enableDeletionVectors' = 'true')"
        )
        files_before, _, _ = lake.prune_files({})
        probed: dict = {}
        orig = lake._prune_by_key_ranges

        def spy(files, ranges, _o=orig, _p=probed):
            kept = _o(files, ranges)
            _p["n"], _p["total"] = len(kept), len(files)
            return kept

        lake._prune_by_key_ranges = spy  # type: ignore
        t0 = _t.perf_counter()
        fr.sql(
            "DELETE FROM cit WHERE k IN "
            "(SELECT s.x FROM cis s WHERE s.j = cit.g)"
        )
        sec = round(_t.perf_counter() - t0, 4)
        lake._prune_by_key_ranges = orig  # type: ignore
        files_after, _, _ = lake.prune_files({})
        assert set(files_before) == set(files_after), "dv must not rewrite"
        op = lake.history(limit=1)[0]["op"]
        assert op == "merge_dv", op
        n_left = lake.snapshot().filter(f"k IN ({k1}, {k2})").count()
        assert n_left == 0, n_left
        assert lake.snapshot().count() == n_files * per - 2
        out[f"at_{n_files}_files"] = {
            "files": n_files,
            "merge_files_probed": probed["n"],
            "live_files": probed["total"],
            "corr_in_delete_sec": sec,
            "dv_file_set_untouched": True,
        }
        shutil.rmtree(root, ignore_errors=True)
    out["probe_scope"] = [
        out["at_8_files"]["merge_files_probed"],
        out["at_64_files"]["merge_files_probed"],
    ]
    out["probe_scope_flat"] = out["probe_scope"] == [1, 1]
    out["note"] = (
        "r16 correlated IN-subquery DML (SQL front decorrelation -> "
        "synthesized (IN-column, select-item) join key + key MERGE) "
        "rides the key-envelope skipping unchanged ([1, 1] files at "
        "8 -> 64) AND stays merge-on-read on a dv-opted table (file "
        "set untouched, merge_dv op), deleted rows value-checked at "
        "both scales"
    )
    return out


def dml_skipping_probe(spark) -> dict:
    """Data-skipping DML (r12): DELETE/MERGE with a tight key range
    scan only the stats-possible files. The scale axis is FILE COUNT
    (8 -> 64 same-sized files): the pruned arm touches ONE file at
    either scale, the unpruned arm (same predicate in parens, which
    disables the conjugate parser by design / an identity-patched
    envelope) scans them all. Receipts are both STRUCTURAL (files
    scanned, exact) and wall-clock (noisier at local scale, flat for
    the pruned arm)."""
    import shutil
    import tempfile
    import time as _t

    from market_data_lakehouse_spark.txnlog import TransactionalLake

    per = 50_000
    out: dict = {}

    # untimed warmups absorb first-of-kind JVM/codegen cost
    wroot = tempfile.mkdtemp(prefix="dmlwarm_")
    warm = TransactionalLake(spark, wroot + "/t", partition_by=())
    warm.append(spark.range(1000).selectExpr(
        "id as k", "cast(id * 1.5 as double) as v"))
    warm.delete_where("(k BETWEEN 5 AND 6)")
    warm.merge(spark.createDataFrame(
        [(7, 0.0)], "k long, v double"), on=["k"])
    shutil.rmtree(wroot, ignore_errors=True)

    def build(root, n_files):
        lake = TransactionalLake(spark, root, partition_by=())
        for i in range(n_files):
            lake.append(
                spark.range(i * per, (i + 1) * per)
                .selectExpr("id as k", "cast(id * 1.5 as double) as v")
                .coalesce(1)
            )
        return lake

    for label, n_files in (("small", 8), ("large", 64)):
        root = tempfile.mkdtemp(prefix=f"dmlsp_{label}_")
        blk: dict = {"files": n_files, "rows": n_files * per}
        # -- delete arms (one single-file range each) --
        lake = build(root + "/d", n_files)
        old = lake._snapshot_state()[0]
        blk["delete_files_scanned_pruned"] = len(
            lake._dml_prune(old, f"k BETWEEN {3 * per + 10} AND {3 * per + 60}")
        )
        blk["delete_files_scanned_unpruned"] = len(old)
        t0 = _t.perf_counter()
        lake.delete_where(f"k BETWEEN {3 * per + 10} AND {3 * per + 60}")
        blk["pruned_delete_sec"] = round(_t.perf_counter() - t0, 4)
        t0 = _t.perf_counter()
        lake.delete_where(f"(k BETWEEN {5 * per + 10} AND {5 * per + 60})")
        blk["unpruned_delete_sec"] = round(_t.perf_counter() - t0, 4)
        assert lake.snapshot().count() == n_files * per - 102
        # -- merge arms (3-key trickle) --
        for arm in ("unpruned", "pruned"):
            lake = build(root + f"/m_{arm}", n_files)
            # matched keys only: an insert with a far-out key would
            # honestly widen the envelope to every file above it —
            # envelope pruning is a MATCHED-workload optimization
            # (CDC upserts hit existing key ranges); that property is
            # documented, not measured here
            src = spark.createDataFrame(
                [(3 * per + 5, 0.0), (3 * per + 6, 0.0),
                 (3 * per + 7, 1.0)],
                "k long, v double",
            )
            if arm == "unpruned":
                orig = lake._prune_by_key_ranges
                lake._prune_by_key_ranges = (  # type: ignore
                    lambda files, ranges: files
                )
            else:
                blk["merge_files_probed"] = len(
                    lake._prune_by_key_ranges(
                        lake._snapshot_state()[0],
                        {"k": (3 * per + 5, 3 * per + 7)},
                    )
                )
            t0 = _t.perf_counter()
            lake.merge(src, on=["k"])
            blk[f"{arm}_merge_sec"] = round(_t.perf_counter() - t0, 4)
            if arm == "unpruned":
                lake._prune_by_key_ranges = orig  # type: ignore
        out[f"at_{n_files}_files"] = blk
        shutil.rmtree(root, ignore_errors=True)
    s8, s64 = out["at_8_files"], out["at_64_files"]
    out["delete_scan_scope"] = {
        "pruned": [s8["delete_files_scanned_pruned"],
                   s64["delete_files_scanned_pruned"]],
        "unpruned": [s8["delete_files_scanned_unpruned"],
                     s64["delete_files_scanned_unpruned"]],
    }
    out["pruned_delete_wall_ratio_8x_files"] = round(
        s64["pruned_delete_sec"] / max(s8["pruned_delete_sec"], 1e-9), 2
    )
    out["unpruned_delete_wall_ratio_8x_files"] = round(
        s64["unpruned_delete_sec"] / max(s8["unpruned_delete_sec"], 1e-9),
        2,
    )
    out["merge_pruned_wall_ratio_8x_files"] = round(
        s64["pruned_merge_sec"] / max(s8["pruned_merge_sec"], 1e-9), 2
    )
    out["merge_unpruned_wall_ratio_8x_files"] = round(
        s64["unpruned_merge_sec"] / max(s8["unpruned_merge_sec"], 1e-9), 2
    )
    out["pruned_scan_scope_flat"] = (
        s8["delete_files_scanned_pruned"]
        == s64["delete_files_scanned_pruned"]
        and s8.get("merge_files_probed") == s64.get("merge_files_probed")
    )
    out["pruned_scales_better"] = (
        out["pruned_delete_wall_ratio_8x_files"]
        < out["unpruned_delete_wall_ratio_8x_files"]
        and out["merge_pruned_wall_ratio_8x_files"]
        < out["merge_unpruned_wall_ratio_8x_files"]
    )
    out["note"] = (
        "scale axis is FILE COUNT (8 -> 64 same-sized files): the "
        "pruned delete scans 1 file and the pruned merge probes "
        "envelope-possible files at either scale (exact structural "
        "counts above), while the parser-disabled / identity-patched "
        "arms scan everything - the wall ratios are the local echo "
        "of that structure"
    )
    return out


def multipart_checkpoint_probe(spark) -> dict:
    """Multipart checkpoints (r12): with checkpoint.partSize set, the
    ROOT checkpoint file stays bounded as the live-file count grows —
    the per-file maps shard into parts. The receipt: root bytes flat
    at 8x the files, part count linear, and a fresh open still
    resolves the head through the sharded checkpoint."""
    import shutil
    import tempfile

    from market_data_lakehouse_spark.txnlog import TransactionalLake

    out = {}
    for label, n_files in (("small", 32), ("large", 256)):
        root = tempfile.mkdtemp(prefix=f"mpcp_{label}_")
        lake = TransactionalLake(
            spark, root + "/t", partition_by=(), checkpoint_every=0
        )
        lake.append(
            spark.range(n_files * 100)
            .selectExpr("id as k", "cast(id * 1.5 as double) as v")
            .repartition(n_files)
        )
        lake.set_properties({"checkpoint.partSize": "16"})
        lake._write_checkpoint(lake.version)
        import os as _os

        root_name = f"{lake.version:08d}.checkpoint"
        root_bytes = _os.path.getsize(
            _os.path.join(lake.log_path, root_name)
        )
        parts = [
            n for n in _os.listdir(lake.log_path)
            if ".checkpoint-part-" in n
        ]
        fresh = TransactionalLake(spark, lake.path, partition_by=())
        n_live = len(fresh._snapshot_state()[0])
        out[f"at_{n_files}_files"] = {
            "files": n_live,
            "root_checkpoint_bytes": root_bytes,
            "n_parts": len(parts),
        }
        shutil.rmtree(root, ignore_errors=True)
    s, l = out["at_32_files"], out["at_256_files"]
    out["root_bytes_ratio_8x_files"] = round(
        l["root_checkpoint_bytes"] / max(s["root_checkpoint_bytes"], 1),
        2,
    )
    out["parts_ratio_8x_files"] = round(
        l["n_parts"] / max(s["n_parts"], 1), 2
    )
    out["root_bounded"] = out["root_bytes_ratio_8x_files"] < 2.0
    out["note"] = (
        "checkpoint.partSize=16: at 8x the live files the ROOT "
        "checkpoint stays flat (table-level metadata only) while the "
        "part count grows linearly - on a 100 TB table the "
        "checkpoint is millions of per-file entries and the parts "
        "bound every single write/read unit"
    )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    # 16x default (r6, was 4): at 4x of sf0.1, local[32] has so much
    # headroom that every probe measured fixed overhead, not scaling —
    # time ratios carried no information (VERDICT r5 missing-item 3)
    ap.add_argument("--factor", type=int, default=16)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument(
        "--only-dv",
        action="store_true",
        help="run just the dv-DML block and merge it into the "
        "existing SCALE_PROBE.json (the full probe takes ~45 min)",
    )
    ap.add_argument(
        "--only-rt",
        action="store_true",
        help="run just the row-tracking block and merge it into the "
        "existing SCALE_PROBE.json",
    )
    ap.add_argument(
        "--only-meta",
        action="store_true",
        help="run just the 1000-commit metadata-fold block and merge "
        "it into the existing SCALE_PROBE.json",
    )
    ap.add_argument(
        "--only-crc",
        action="store_true",
        help="run just the 1000-commit checksum block and merge it "
        "into the existing SCALE_PROBE.json",
    )
    ap.add_argument(
        "--only-vacuum",
        action="store_true",
        help="run just the vacuum-lite discovery block and merge it "
        "into the existing SCALE_PROBE.json",
    )
    ap.add_argument(
        "--only-cluster",
        action="store_true",
        help="run just the liquid-clustering increment block and "
        "merge it into the existing SCALE_PROBE.json",
    )
    ap.add_argument(
        "--only-pd",
        action="store_true",
        help="run just the partition-delete fast-path block and "
        "merge it into the existing SCALE_PROBE.json",
    )
    ap.add_argument(
        "--only-mpcp",
        action="store_true",
        help="run just the multipart-checkpoint block and merge it "
        "into the existing SCALE_PROBE.json",
    )
    ap.add_argument(
        "--only-mx",
        action="store_true",
        help="run just the r13 merge-exprs skipping block and merge "
        "it into the existing SCALE_PROBE.json",
    )
    ap.add_argument(
        "--only-exists",
        action="store_true",
        help="run just the r14 EXISTS-DML skipping block and merge "
        "it into the existing SCALE_PROBE.json",
    )
    ap.add_argument(
        "--only-corr-scalar",
        action="store_true",
        help="run just the r15 correlated-scalar DML skipping + dv "
        "block and merge it into the existing SCALE_PROBE.json",
    )
    ap.add_argument(
        "--only-corr-in",
        action="store_true",
        help="run just the r16 correlated-IN DML skipping + dv "
        "block and merge it into the existing SCALE_PROBE.json",
    )
    args = ap.parse_args()

    if args.only_corr_in:
        from market_data_lakehouse_spark.session import get_spark

        spark = get_spark("scale_probe")
        block = corr_in_dml_skipping_probe(spark)
        path = os.path.join(REPO, "SCALE_PROBE.json")
        doc = json.load(open(path)) if os.path.exists(path) else {}
        doc["corr_in_dml_skipping"] = block
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=2)
        print(json.dumps({"corr_in_dml_skipping": block}))
        return 0 if block["probe_scope_flat"] else 1

    if args.only_corr_scalar:
        from market_data_lakehouse_spark.session import get_spark

        spark = get_spark("scale_probe")
        block = corr_scalar_dml_skipping_probe(spark)
        path = os.path.join(REPO, "SCALE_PROBE.json")
        doc = json.load(open(path)) if os.path.exists(path) else {}
        doc["corr_scalar_dml_skipping"] = block
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=2)
        print(json.dumps({"corr_scalar_dml_skipping": block}))
        return 0 if block["probe_scope_flat"] else 1

    if args.only_mx:
        from market_data_lakehouse_spark.session import get_spark

        spark = get_spark("scale_probe")
        block = merge_exprs_skipping_probe(spark)
        path = os.path.join(REPO, "SCALE_PROBE.json")
        doc = json.load(open(path)) if os.path.exists(path) else {}
        doc["merge_exprs_skipping"] = block
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=2)
        print(json.dumps({"merge_exprs_skipping": block}))
        return 0 if block["probe_scope_flat"] else 1

    if args.only_exists:
        from market_data_lakehouse_spark.session import get_spark

        spark = get_spark("scale_probe")
        block = exists_dml_skipping_probe(spark)
        path = os.path.join(REPO, "SCALE_PROBE.json")
        doc = json.load(open(path)) if os.path.exists(path) else {}
        doc["exists_dml_skipping"] = block
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=2)
        print(json.dumps({"exists_dml_skipping": block}))
        return 0 if block["probe_scope_flat"] else 1

    if args.only_mpcp:
        from market_data_lakehouse_spark.session import get_spark

        spark = get_spark("scale_probe")
        block = multipart_checkpoint_probe(spark)
        path = os.path.join(REPO, "SCALE_PROBE.json")
        doc = json.load(open(path)) if os.path.exists(path) else {}
        doc["multipart_checkpoint"] = block
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=2)
        print(json.dumps({"multipart_checkpoint": block}))
        return 0 if block["root_bounded"] else 1

    if args.only_pd:
        from market_data_lakehouse_spark.session import get_spark

        spark = get_spark("scale_probe")
        block = partition_delete_probe(spark)
        dml = dml_skipping_probe(spark)
        path = os.path.join(REPO, "SCALE_PROBE.json")
        doc = json.load(open(path)) if os.path.exists(path) else {}
        doc["partition_delete"] = block
        doc["dml_skipping"] = dml
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=2)
        print(json.dumps({"partition_delete": block,
                          "dml_skipping": dml}))
        return 0 if (
            block["fast_flat_vs_rows"] and dml["pruned_scales_better"]
        ) else 1

    if args.only_vacuum:
        from market_data_lakehouse_spark.session import get_spark

        spark = get_spark("scale_probe")
        block = vacuum_lite_probe(spark)
        path = os.path.join(REPO, "SCALE_PROBE.json")
        doc = json.load(open(path)) if os.path.exists(path) else {}
        doc["vacuum_lite"] = block
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=2)
        print(json.dumps({"vacuum_lite": block}))
        return 0 if block["lite_flat_vs_files"] else 1

    if args.only_cluster:
        from market_data_lakehouse_spark.session import get_spark

        spark = get_spark("scale_probe")
        block = cluster_probe(spark)
        path = os.path.join(REPO, "SCALE_PROBE.json")
        doc = json.load(open(path)) if os.path.exists(path) else {}
        doc["liquid_clustering"] = block
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=2)
        print(json.dumps({"liquid_clustering": block}))
        return 0 if block["increment_bound"] else 1

    if args.only_crc:
        from market_data_lakehouse_spark.session import get_spark

        spark = get_spark("scale_probe")
        block = crc_probe(spark)
        path = os.path.join(REPO, "SCALE_PROBE.json")
        doc = json.load(open(path)) if os.path.exists(path) else {}
        doc["commit_checksum"] = block
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=2)
        print(json.dumps({"commit_checksum": block}))
        return 0 if (
            block["flat"] and block["append_incremental_both"]
        ) else 1

    if args.only_meta:
        from market_data_lakehouse_spark.session import get_spark

        spark = get_spark("scale_probe")
        block = metadata_fold_probe(spark)
        path = os.path.join(REPO, "SCALE_PROBE.json")
        doc = json.load(open(path)) if os.path.exists(path) else {}
        doc["metadata_fold"] = block
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=2)
        print(json.dumps({"metadata_fold": block}))
        return 0 if block["fold_reads_flat"] else 1

    from market_data_lakehouse_spark.session import get_spark

    spark = get_spark("scale_probe")
    # warmup outside any measurement
    from market_data_lakehouse_spark.queries import REGISTRY

    REGISTRY["o2_topk"].fn(spark, args.sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    tmp = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        t0 = time.perf_counter()
        scaled_dir(
            spark, args.sf_dir, args.factor, tmp,
            tables=["events"] if (args.only_dv or args.only_rt) else None,
        )
        build_sec = round(time.perf_counter() - t0, 2)

        if args.only_rt:
            block = rt_block(
                row_tracking_probe(spark, args.sf_dir),
                row_tracking_probe(spark, tmp),
                args.factor,
            )
            path = os.path.join(REPO, "SCALE_PROBE.json")
            doc = json.load(open(path)) if os.path.exists(path) else {}
            doc["row_tracking"] = block
            with open(path, "w") as fh:
                json.dump(doc, fh, indent=2)
            print(json.dumps({"row_tracking": block}))
            return 0 if (
                block["near_linear"] and block["ids_ok_both"]
            ) else 1

        if args.only_dv:
            block = dv_block(
                dv_dml_probe(spark, args.sf_dir),
                dv_dml_probe(spark, tmp),
                args.factor,
            )
            path = os.path.join(REPO, "SCALE_PROBE.json")
            doc = json.load(open(path)) if os.path.exists(path) else {}
            doc["dv_dml"] = block
            with open(path, "w") as fh:
                json.dump(doc, fh, indent=2)
            print(json.dumps({"dv_dml": block}))
            return 0 if all(
                v["near_linear"] for v in block["per_op"].values()
            ) else 1

        rss_before = rss_mb()
        base = time_queries(spark, args.sf_dir)
        base_pairs = lsh_pair_counts()
        base_graph = graph_structure(spark, args.sf_dir)
        base_iter = iterative_graph_structure(spark, args.sf_dir)
        base_dv = dv_dml_probe(spark, args.sf_dir)
        rss_mid = rss_mb()
        scaled = time_queries(spark, tmp)
        scaled_pairs = lsh_pair_counts()
        scaled_graph = graph_structure(spark, tmp)
        scaled_iter = iterative_graph_structure(spark, tmp)
        scaled_dv = dv_dml_probe(spark, tmp)
        rss_after = rss_mb()

        per_query = {
            q: {
                "base_sec": base[q],
                "scaled_sec": scaled[q],
                "time_ratio": round(scaled[q] / base[q], 3),
                "near_linear": scaled[q] / base[q] <= args.factor,
            }
            for q in PROBES
        }
        lsh_candidates = {
            q: {
                "base": base_pairs.get(q),
                "scaled": scaled_pairs.get(q),
                "pair_growth": (
                    round(
                        scaled_pairs[q]["candidate_pairs"]
                        / max(base_pairs[q]["candidate_pairs"], 1),
                        2,
                    )
                    if base_pairs.get(q) and scaled_pairs.get(q)
                    else None
                ),
            }
            for q in set(base_pairs) | set(scaled_pairs)
        }
        graph = {
            k: {
                "base": base_graph[k],
                "scaled": scaled_graph[k],
                "growth": round(scaled_graph[k] / max(base_graph[k], 1), 2),
            }
            for k in base_graph
        }
        report = {
            "sf_dir": args.sf_dir,
            "factor": args.factor,
            "scaled_build_sec": build_sec,
            "per_query": per_query,
            "lsh_candidates": lsh_candidates,
            "graph_structure": graph,
            "iterative_graph_structure": {
                "base": base_iter,
                "scaled": scaled_iter,
                "kcore_edges_growth_per_round": [
                    round(
                        s["edges_in"] / max(b["edges_in"], 1), 2
                    )
                    for b, s in zip(
                        base_iter["kcore_rounds"],
                        scaled_iter["kcore_rounds"],
                    )
                ],
                "cc_rounds_flat": (
                    scaled_iter["cc_rounds_to_convergence"]
                    <= base_iter["cc_rounds_to_convergence"] + 1
                ),
            },
            "dv_dml": dv_block(base_dv, scaled_dv, args.factor),
            "row_tracking": rt_block(
                row_tracking_probe(spark, args.sf_dir),
                row_tracking_probe(spark, tmp),
                args.factor,
            ),
            "driver_rss_mb": {
                "before": round(rss_before, 1),
                "after_base": round(rss_mid, 1),
                "after_scaled": round(rss_after, 1),
                # maxrss is monotone; growth during the scaled pass is
                # the driver-memory-vs-data-size signal
                "scaled_pass_growth": round(rss_after - rss_mid, 1),
            },
            "all_near_linear": all(
                v["near_linear"] for v in per_query.values()
            ),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    with open(os.path.join(REPO, "SCALE_PROBE.json"), "w") as fh:
        json.dump(report, fh, indent=2)
    print(json.dumps(report))
    return 0 if report["all_near_linear"] else 1


if __name__ == "__main__":
    raise SystemExit(main())

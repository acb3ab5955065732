"""A/B adjudication for the three largest r8 hot-run movers (r8
VERDICT directive 3): q_lsh_verified (2.19 -> 3.06 s recorded),
q_minhash_lsh (1.48 -> 2.28 s), q_deletion_vectors (1.69 -> 2.17 s).

The r8 end-of-round bench was whole-invocation hot (its own mid-round
clean run of the identical harness recorded 0.561x with zero flags),
but these three were the largest absolute movers and
q_deletion_vectors' subsystem DID change in r8 — so each gets the
full protocol from tools/bench_ab.py: per-query code-identity proof
against the r7 end-of-round revision, then an interleaved same-JVM
sampling round-robin (the three movers + the q_dedup_hash control +
the job-floor probe), classified by bench_ab.classify_drift. A
"recovered_at_head" verdict means HEAD's median reproduces the r7
recorded value inside the best-of-3 jitter — the r8 hot value was
the anomaly, nothing in the code to fix.

Results merge into AB_BENCH.json under "r9_movers".

Usage:
    python tools/ab_movers.py [--rounds 7] [--old-rev 75effea]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from bench_ab import _func_source, _git_show, classify_drift  # noqa: E402

# recorded values: r7 = BENCH_r07.json (parsed); r8 = the driver's
# end-of-round hot run — the LSH rows come from its stdout before the
# 2 kB tail truncation (cited in VERDICT r8), q_deletion_vectors from
# the surviving tail fragment of BENCH_r08.json.
RECORDED = {
    "q_lsh_verified": (2.1864, 3.06),
    "q_minhash_lsh": (1.4845, 2.28),
    "q_deletion_vectors": (1.6935, 2.1742),
    "q_dedup_hash": (0.1556, None),  # control
}
QUERIES = {
    "q_lsh_verified": "e2_lsh_verified_jaccard",
    "q_minhash_lsh": "e2_minhash_lsh",
    "q_deletion_vectors": "s12_deletion_vectors",
    "q_dedup_hash": "e1_dedup_by_hash",
}
# per-query identity chains (file, qualname) vs the old revision —
# the functions whose cost the bench label actually measures
IDENTITY = {
    "q_lsh_verified": [
        ("market_data_lakehouse_spark/queries/dedup.py", "e2_lsh_verified_jaccard"),
        ("market_data_lakehouse_spark/queries/dedup.py", "minhash_signatures"),
        ("market_data_lakehouse_spark/queries/dedup.py", "_banded"),
        ("market_data_lakehouse_spark/queries/dedup.py", "_shingles_exploded"),
    ],
    "q_minhash_lsh": [
        ("market_data_lakehouse_spark/queries/dedup.py", "e2_minhash_lsh"),
        ("market_data_lakehouse_spark/queries/dedup.py", "minhash_signatures"),
        ("market_data_lakehouse_spark/queries/dedup.py", "_banded"),
        ("market_data_lakehouse_spark/queries/dedup.py", "_shingles_exploded"),
    ],
    "q_deletion_vectors": [
        ("market_data_lakehouse_spark/queries/lakehouse_query.py", "s12_deletion_vectors"),
        ("market_data_lakehouse_spark/txnlog.py", "TransactionalLake._dv_write"),
        ("market_data_lakehouse_spark/txnlog.py", "TransactionalLake._read_files"),
        ("market_data_lakehouse_spark/txnlog.py", "TransactionalLake.snapshot"),
    ],
    "q_dedup_hash": [
        ("market_data_lakehouse_spark/queries/textops.py", "e1_dedup_by_hash"),
    ],
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--old-rev", default="75effea", help="r7 end-of-round")
    ap.add_argument("--rounds", type=int, default=7)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    identity: dict[str, dict] = {}
    for label, targets in IDENTITY.items():
        per = {}
        for path, qual in targets:
            old_src = _func_source(_git_show(args.old_rev, path), qual)
            new_src = _func_source(
                open(os.path.join(REPO, path)).read(), qual
            )
            per[f"{path}::{qual}"] = {
                "identical": old_src is not None and old_src == new_src,
                "old_found": old_src is not None,
            }
        identity[label] = {
            "targets": per,
            "all_identical": all(v["identical"] for v in per.values()),
        }

    from bench import run_once  # noqa: E402
    from market_data_lakehouse_spark.queries import REGISTRY  # noqa: E402
    from market_data_lakehouse_spark.session import get_spark  # noqa: E402

    spark = get_spark("ab_movers")
    run_once(spark, REGISTRY["o2_topk"].fn, args.sf_dir)  # warmup

    floor_samples = []
    for _ in range(args.rounds):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        floor_samples.append(round(time.perf_counter() - t0, 4))

    samples: dict[str, list[float]] = {q: [] for q in QUERIES}
    for _ in range(args.rounds):
        for label, qname in QUERIES.items():
            spark._jvm.System.gc()
            samples[label].append(
                run_once(spark, REGISTRY[qname].fn, args.sf_dir)
            )

    per_query = {}
    for label, vals in samples.items():
        old_v, new_v = RECORDED[label]
        per_query[label] = classify_drift(
            vals,
            old_v,
            new_v,
            identity[label]["all_identical"],
            is_control=label == "q_dedup_hash",
        )
        per_query[label]["code_identity"] = identity[label]

    entry = {
        "protocol": (
            f"one JVM, interleaved round-robin, {args.rounds} "
            "samples/query, GC between samples; per-query identity "
            f"vs {args.old_rev} (r7 end-of-round)"
        ),
        "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "job_floor_sec": {
            "samples": floor_samples,
            "median": round(statistics.median(floor_samples), 4),
        },
        "queries": per_query,
    }
    path = os.path.join(REPO, "AB_BENCH.json")
    doc = json.load(open(path)) if os.path.exists(path) else {}
    doc["r9_movers"] = entry
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=2)
    print(
        json.dumps(
            {
                "verdicts": {q: per_query[q]["verdict"] for q in per_query},
                "medians": {q: per_query[q]["median"] for q in per_query},
                "identity": {
                    q: identity[q]["all_identical"] for q in identity
                },
                "artifact": "AB_BENCH.json",
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

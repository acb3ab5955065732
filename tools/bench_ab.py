"""Adjudicate round-over-round bench drift for flagged queries.

Round 5 flagged q_ingest_batch as the one monotone riser (1.119 s r3
-> 1.557 s r4 -> 1.867 s r5) that a single-round code-identity proof
cannot exonerate; the r5 VERDICT prescribes re-running the A/B with
the **r3 revision** as the old arm. The protocol:

1. **Code-identity proof**: extracts the exact source of each flagged
   query function (and every lakehouse method + session-level
   dependency on the ingest hot path: ``_append``'s observe chain,
   ``valid_bar``, ``get_spark`` conf defaults) at the old round's
   commit and at HEAD via ``git show`` + ``ast``, and records
   byte-identity per function. Identical code means the drift cannot
   be a code cost slip — the "A/B" has one arm.
2. **Noise-envelope measurement**: in ONE JVM, runs the flagged
   queries interleaved round-robin (with non-regressed control
   queries in the rotation — including q_dedup_hash, the trivial
   job-floor probe) for N rounds each, recording every sample.
   Two spreads are reported per query: the raw single-run spread
   and the sliding best-of-3 spread (the jitter that SURVIVES the
   recorded rounds' best-of-k policy). The "noise" verdict requires
   the recorded cross-round ratio to fall inside the **best-of-3**
   spread (ADVICE r5: the single-run spread is wider than what the
   recorded numbers could have seen, so gating on it is biased
   toward "noise"); ratios covered only by the single-run spread
   get the intermediate verdict "noise_single_run_only".

Writes AB_BENCH.json at the repo root and prints the summary line.

Usage:
    python tools/bench_ab.py                 # defaults: r3 commit, N=10
    python tools/bench_ab.py --rounds 6 --old-rev bb99dc0
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# flagged bench label -> (registry query | "INGEST"), plus controls
# that did NOT regress, interleaved to show jitter is query-agnostic.
# q_dedup_hash doubles as the trivial job-floor probe: if IT moves,
# the whole JVM's per-job floor moved, not any one query's code.
FLAGGED = {
    "q_ingest_batch": "INGEST",
}
CONTROL = {
    "q_vwap_top10": "a2_vwap_top10",
    "q_dedup_hash": "e1_dedup_by_hash",
}

# functions whose source must be compared old-rev vs HEAD:
# (file, qualname) — qualname "Class.method" or bare function name.
# Beyond the flagged entry points, the session-level dependencies the
# r5 VERDICT named: the observe chain in _append, the validity
# predicate, and the session conf defaults; and the log writer that
# _append hands its batch to.
IDENTITY_TARGETS = [
    ("market_data_lakehouse_spark/lakehouse.py", "DataLakehouse.ingest_batch"),
    ("market_data_lakehouse_spark/lakehouse.py", "DataLakehouse._append"),
    ("market_data_lakehouse_spark/lakehouse.py", "DataLakehouse.flush"),
    ("market_data_lakehouse_spark/lakehouse.py", "DataLakehouse.__init__"),
    ("market_data_lakehouse_spark/lakehouse.py", "valid_bar"),
    ("market_data_lakehouse_spark/txnlog.py", "TransactionalLake.append"),
    ("market_data_lakehouse_spark/txnlog.py", "TransactionalLake._checked_write"),
    ("market_data_lakehouse_spark/txnlog.py", "TransactionalLake._write_files"),
    ("market_data_lakehouse_spark/session.py", "get_spark"),
]


def _git_show(rev: str, path: str) -> str:
    return subprocess.run(
        ["git", "show", f"{rev}:{path}"],
        cwd=REPO,
        check=True,
        capture_output=True,
        text=True,
    ).stdout


def _func_source(src: str, qualname: str) -> str | None:
    parts = qualname.split(".")
    tree = ast.parse(src)
    nodes = tree.body
    node = None
    for i, name in enumerate(parts):
        node = next(
            (
                n
                for n in nodes
                if isinstance(
                    n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
                and n.name == name
            ),
            None,
        )
        if node is None:
            return None
        nodes = getattr(node, "body", [])
    return ast.get_source_segment(src, node)


def identity_report(old_rev: str) -> dict:
    out = {}
    for path, qual in IDENTITY_TARGETS:
        old_src = _func_source(_git_show(old_rev, path), qual)
        new_src = _func_source(
            open(os.path.join(REPO, path)).read(), qual
        )
        out[f"{path}::{qual}"] = {
            "identical": old_src is not None and old_src == new_src,
            "old_found": old_src is not None,
        }
    return out


def classify_drift(
    vals: list[float],
    rec_old: float | None,
    rec_new: float | None,
    all_identical: bool,
    is_control: bool = False,
) -> dict:
    """Pure verdict kernel for one query's interleaved samples —
    extracted so the gating policy (best-of-3 spread, not the wider
    raw spread; recovered_at_head for drifts that vanish at HEAD) is
    unit-testable without a JVM (r6 VERDICT directive 6)."""
    lo, hi = min(vals), max(vals)
    ratio = round(rec_new / rec_old, 3) if rec_old and rec_new else None
    # sliding best-of-3 replays the recorded rounds' best-of-k
    # policy on the same-JVM samples: its spread is the jitter
    # that survives the policy — the spread the recorded numbers
    # could actually have seen (ADVICE r5: gate on THIS, not the
    # wider raw single-run spread)
    bo3 = [min(vals[i : i + 3]) for i in range(len(vals) - 2)]
    bo3_spread = round(max(bo3) / min(bo3), 3)
    raw_spread = round(hi / lo, 3)
    med = statistics.median(vals)
    head_vs_old = (med / rec_old) if rec_old else None
    recovered = head_vs_old is not None and (
        max(head_vs_old, 1 / head_vs_old) <= bo3_spread
    )
    if is_control:
        verdict = "control"
    elif not all_identical or ratio is None:
        verdict = "unexplained"
    elif ratio <= bo3_spread:
        verdict = "noise"
    elif ratio <= raw_spread:
        verdict = "noise_single_run_only"
    elif recovered:
        verdict = "recovered_at_head"
    else:
        verdict = "unexplained"
    return {
        "samples_sec": [round(v, 4) for v in vals],
        "min": round(lo, 4),
        "median": round(med, 4),
        "max": round(hi, 4),
        "stdev": round(statistics.stdev(vals), 4),
        "spread_ratio": raw_spread,
        "bo3_spread_ratio": bo3_spread,
        "recorded_old": rec_old,
        "recorded_new": rec_new,
        "recorded_ratio": ratio,
        "head_median_vs_recorded_old": (
            round(head_vs_old, 3) if head_vs_old else None
        ),
        "verdict": verdict,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--old-rev", default="bb99dc0", help="round-3 commit")
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument(
        "--old-bench", default="BENCH_r03.json", help="old round bench file"
    )
    ap.add_argument(
        "--new-bench", default="BENCH_r05.json", help="new round bench file"
    )
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    if args.rounds < 3:
        # the sliding best-of-3 needs >= 3 samples (and stdev >= 2);
        # fail BEFORE the expensive sampling loop (ADVICE r5)
        ap.error("--rounds must be >= 3 for the best-of-3 spread")

    ident = identity_report(args.old_rev)

    from bench import HEADLINE, bench_ingest, run_once  # noqa: E402
    from market_data_lakehouse_spark.queries import REGISTRY  # noqa: E402
    from market_data_lakehouse_spark.session import get_spark  # noqa: E402

    assert set(CONTROL.values()) <= {
        *HEADLINE.values()
    }, "control must be a tracked headline query"

    spark = get_spark("bench_ab")
    # untimed warmup, same policy as bench.py
    run_once(spark, REGISTRY["o2_topk"].fn, args.sf_dir)

    # absolute job floor: the cheapest possible Spark action
    # (range(1) -> noop write), sampled like everything else. Any
    # query's recorded time is bounded below by this number — a
    # baseline claim under it (e.g. the reference's 50 ms filter row
    # vs the ~100 ms floor measured here) is unreachable for ANY plan
    # in this harness, which names the root cause for the filter-row
    # gate breach without touching the query.
    floor_samples = []
    for _ in range(args.rounds):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        floor_samples.append(round(time.perf_counter() - t0, 4))

    labels = list(FLAGGED) + list(CONTROL)
    samples: dict[str, list[float]] = {q: [] for q in labels}
    for _ in range(args.rounds):
        for label in labels:  # interleaved round-robin, one JVM
            qname = {**FLAGGED, **CONTROL}[label]
            spark._jvm.System.gc()
            if qname == "INGEST":
                samples[label].append(bench_ingest(spark, args.sf_dir))
            else:
                samples[label].append(
                    run_once(spark, REGISTRY[qname].fn, args.sf_dir)
                )

    def _queries(path: str) -> dict[str, float]:
        with open(os.path.join(REPO, path)) as fh:
            doc = json.load(fh)
        return (doc.get("parsed") or doc)["queries"]

    old_q, new_q = _queries(args.old_bench), _queries(args.new_bench)
    all_identical = all(v["identical"] for v in ident.values())
    # verdict notes: the recorded cross-round values came from two
    # DIFFERENT JVMs on different days; "noise" requires the
    # best-of-3 spread on byte-identical code to cover the recorded
    # ratio. recovered_at_head: HEAD's median reproduces the OLD
    # round's value to within the best-of-3 jitter — the NEW recorded
    # value was the anomaly and there is nothing in the code to fix.
    per_query = {
        label: classify_drift(
            vals,
            old_q.get(label),
            new_q.get(label),
            all_identical,
            is_control=label in CONTROL,
        )
        for label, vals in samples.items()
    }

    report = {
        "protocol": (
            "one JVM, interleaved round-robin, "
            f"{args.rounds} samples/query, GC between samples"
        ),
        "absolute_job_floor_sec": {
            "samples": floor_samples,
            "min": min(floor_samples),
            "median": round(statistics.median(floor_samples), 4),
            "note": (
                "cheapest possible action (range(1) noop write); no "
                "query can record below this on this host"
            ),
        },
        "old_rev": args.old_rev,
        "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "code_identity": ident,
        "all_flagged_code_identical": all(
            v["identical"] for v in ident.values()
        ),
        "queries": per_query,
    }
    out_path = os.path.join(REPO, "AB_BENCH.json")
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=2)
    print(
        json.dumps(
            {
                "code_identical": report["all_flagged_code_identical"],
                "verdicts": {
                    q: per_query[q]["verdict"] for q in per_query
                },
                "spreads": {
                    q: per_query[q]["spread_ratio"] for q in per_query
                },
                "artifact": "AB_BENCH.json",
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""The transaction log's file format and its one replay rule.

Table state at version v is the newest readable checkpoint at or
before v, then every commit after it up to v applied in order
(Delta's log replay). This module is that rule: commit and
checkpoint I/O, one :func:`apply` step, and :func:`fold`. It imports
only the standard library, so the driver (``txnlog``) and the
``lake_changes`` streaming source (``lakesource``) replay the log
with the same code, and a Python worker never needs pyspark for it.

Log layout under ``<table>/_txn_log``:

- ``<v:08d>.json``: one commit, written by an atomic put-if-absent;
- ``<v:08d>.checkpoint``: the folded state at v, in the shape
  :func:`fold` returns. With ``parts: n`` it is multipart: the
  per-file maps sit in ``<v:08d>.checkpoint-part-<i>-of-<n>`` files,
  written before the root;
- ``_last_checkpoint``: ``{"version": v}`` of the newest checkpoint,
  so head reads never list the directory.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from urllib.parse import unquote

LOG_DIR = "_txn_log"
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
POINTER = "_last_checkpoint"
# the per-file maps a multipart checkpoint shards across its parts
# (row-tracking bases travel as ``rt_base``)
PER_FILE = ("stats", "rows", "bytes", "blooms", "dv")

# schema-JSON primitive name <-> Catalyst simpleString
JSON_TO_SIMPLE = {
    "byte": "tinyint", "short": "smallint", "integer": "int",
    "long": "bigint", "float": "float", "double": "double",
}
# widenings Spark's store-assignment (ANSI) policy treats as
# implicit and lossless-enough: value-preserving integral chains
# plus integral/float promotion into double. Everything else
# (narrowing, string<->numeric, temporal<->anything) must fail
# loudly rather than silently evolve or null-out the column.
UPCASTS = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("tinyint", "float"), ("tinyint", "double"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("smallint", "float"), ("smallint", "double"),
    ("int", "bigint"), ("int", "double"),
    ("bigint", "double"),
    ("float", "double"),
}


# ----------------------------------------------------------------------
# commits
# ----------------------------------------------------------------------
def read_commit(log_path: str, v: int) -> dict:
    with open(os.path.join(log_path, f"{v:08d}.json")) as fh:
        return json.load(fh)


def _names(log_path: str) -> list[str]:
    try:
        return os.listdir(log_path)
    except FileNotFoundError:
        return []


def commit_versions(log_path: str) -> list[int]:
    """Every commit version on disk, ascending (a directory listing:
    for retention checks and whole-log walks, never head reads)."""
    return sorted(
        int(f.split(".")[0]) for f in _names(log_path) if f.endswith(".json")
    )


def version(log_path: str) -> int:
    """Latest committed version, -1 for an empty log. After
    ``vacuum_log`` the newest checkpoint may BE the head (zero commit
    files left): the checkpoint version counts.

    Resolves through the ``_last_checkpoint`` pointer when one
    exists: walk version numbers upward from the pointer until the
    first missing commit file. O(tail), no listing (commit files are
    contiguous above the retention floor)."""
    try:
        with open(os.path.join(log_path, POINTER)) as fh:
            v = int(json.load(fh)["version"])
        while os.path.exists(os.path.join(log_path, f"{v + 1:08d}.json")):
            v += 1
        return v
    except (OSError, json.JSONDecodeError, KeyError, ValueError):
        pass
    versions = commit_versions(log_path)
    if versions:
        return versions[-1]
    cp = latest_checkpoint(log_path)
    return cp["version"] if cp is not None else -1


def iter_commits(log_path: str, start: int, as_of: int | None = None):
    """Commit dicts for versions in ``[start, as_of or head]``, in
    order, walking version numbers directly from ``start`` until the
    first missing file: O(tail) with NO directory listing (the 1000-
    commit probe showed the per-op listdir was the one metadata cost
    that grew with log length). Only a bounded read whose FIRST
    version is missing (a vacuumed prefix below the retention floor)
    falls back to the listing, so the gap surfaces through the
    callers' guards, not as silent emptiness."""
    v = start
    first = True
    while as_of is None or v <= as_of:
        try:
            c = read_commit(log_path, v)
        except FileNotFoundError:
            if first and as_of is not None:
                for w in commit_versions(log_path):
                    if start <= w <= as_of:
                        yield read_commit(log_path, w)
            return
        first = False
        yield c
        v += 1


def epoch(timestamp: str | float) -> float:
    """A time-travel target as epoch seconds. Commit timestamps are
    UTC epoch (``time.time()``), so a naive ISO string reads as UTC;
    a numeric string reads as epoch seconds."""
    if not isinstance(timestamp, str):
        return float(timestamp)
    try:
        return float(timestamp)
    except ValueError:
        pass
    dt = datetime.fromisoformat(timestamp)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


# ----------------------------------------------------------------------
# checkpoints
# ----------------------------------------------------------------------
def part_name(v: int, i: int, n: int) -> str:
    return f"{v:08d}.checkpoint-part-{i:04d}-of-{n:04d}"


def load_checkpoint(log_path: str, v: int) -> dict:
    """Load the checkpoint at ``v``, reassembling a MULTIPART one
    (Delta ``checkpoint.partSize`` parity): the root carries every
    table-level field plus ``parts: n``; the per-file maps are sharded
    across n part files. A missing or corrupt part raises, and the
    caller skips to an older checkpoint (or the full fold); a
    half-written part set is invisible anyway because the root is
    written LAST."""
    with open(os.path.join(log_path, f"{v:08d}.checkpoint")) as fh:
        cp = json.load(fh)
    n = int(cp.get("parts") or 0)
    for i in range(n):
        with open(os.path.join(log_path, part_name(v, i, n))) as fh:
            part = json.load(fh)
        cp["live"].extend(part["live"])
        for k in PER_FILE:
            cp[k].update(part.get(k, {}))
        if cp.get("row_tracking") and part.get("rt_base"):
            cp["row_tracking"]["base"].update(part["rt_base"])
    return cp


def latest_checkpoint(
    log_path: str,
    max_version: int | None = None,
    max_timestamp: float | None = None,
) -> dict | None:
    """Newest readable checkpoint, optionally at or before a version
    or commit timestamp (time travel needs the newest checkpoint NOT
    past its target), or None. A torn or corrupt file is skipped:
    checkpoints are pure optimization, the commit log stays the
    source of truth.

    Version-bounded and head reads try the ``_last_checkpoint``
    pointer first (Delta parity): O(1), no directory listing. A
    missing, corrupt or too-new pointer falls back to the listing."""
    if max_timestamp is None:
        try:
            with open(os.path.join(log_path, POINTER)) as fh:
                pv = int(json.load(fh)["version"])
            if max_version is None or pv <= max_version:
                return load_checkpoint(log_path, pv)
        except (OSError, json.JSONDecodeError, KeyError, ValueError):
            pass
    cps = sorted(
        int(f.split(".")[0])
        for f in _names(log_path)
        if f.endswith(".checkpoint")
    )
    for v in reversed(cps):
        if max_version is not None and v > max_version:
            continue
        try:
            cp = load_checkpoint(log_path, v)
        except (OSError, json.JSONDecodeError, KeyError, ValueError):
            continue
        if (
            max_timestamp is not None
            and cp.get("timestamp") is not None
            and cp["timestamp"] > max_timestamp
        ):
            continue
        return cp
    return None


# ----------------------------------------------------------------------
# the replay rule
# ----------------------------------------------------------------------
def state_from(cp: dict | None) -> dict:
    """The working state :func:`apply` folds into, seeded from a
    loaded checkpoint (empty when None); it may share nested records
    with ``cp``, so pass a checkpoint nothing else uses. Sets hold
    the live files (an insertion-ordered dict), the clustered files,
    the features and the loaded copy sources."""
    cp = cp or {}
    rt = cp.get("row_tracking")
    cl = cp.get("clustering")
    return {
        "version": cp.get("version", -1),
        "timestamp": cp.get("timestamp"),
        # layout: log-owned, so a reopening handle adopts it
        "partition_by": cp.get("partition_by"),
        "generated_columns": cp.get("generated_columns"),
        "bloom_columns": cp.get("bloom_columns"),
        "live": dict.fromkeys(cp.get("live", [])),
        "schemas": list(cp.get("schemas", [])),
        **{k: dict(cp.get(k, {})) for k in PER_FILE},
        "txn": dict(cp.get("txn", {})),
        "constraints": dict(cp.get("constraints", {})),
        "identity": cp.get("identity") or None,
        "column_mapping": cp.get("column_mapping") or None,
        "properties": dict(cp.get("properties", {})),
        "row_tracking": (
            {
                "enabled": True,
                "high_water": int(rt["high_water"]),
                "base": dict(rt["base"]),
            }
            if rt
            else None
        ),
        "clustering": (
            {"cols": list(cl["cols"]), "clustered": set(cl["clustered"])}
            if cl
            else None
        ),
        "defaults": dict(cp.get("defaults", {})),
        "table_stats": cp.get("table_stats") or None,
        "features": set(cp.get("features", [])),
        "copy_sources": set(cp.get("copy_sources", [])),
    }


def apply(state: dict, c: dict) -> None:
    """Apply ONE commit to a working state, in place: the only place
    the package turns a commit into table state. A file's deletion
    vector is replaced, never mutated, so a shallow copy of
    ``state["dv"]`` keeps the vectors as of the previous commit."""
    live, dv = state["live"], state["dv"]
    for f in c.get("add", []):
        live[f] = None
    for f in c.get("remove", []):
        live.pop(f, None)
        # the rewrite that removed a file materialized its survivors,
        # or the file left the table: its vector goes with it
        dv.pop(f, None)
    for f, pos in c.get("dv", {}).items():
        dv[f] = sorted(set(dv.get(f, [])) | set(pos))
    for f, pos in c.get("dv_reset", {}).items():
        # restore: SET the file's vector exactly (empty = clear)
        if pos:
            dv[f] = sorted(pos)
        else:
            dv.pop(f, None)
    # schema history. ``schema_reset`` marks commits that REPLACE the
    # table's contents (overwrite / restore / reorg_purge): the
    # history restarts there, or the merged union would resurrect
    # columns the replacing commit dropped
    schemas = state["schemas"]
    if c.get("schema_reset"):
        schemas.clear()
    if c.get("schema_history"):  # written by older restore/clone
        schemas.extend(c["schema_history"])
    elif c.get("schema"):
        schemas.append(c["schema"])
    for k in ("stats", "rows", "bytes", "blooms"):
        state[k].update(c.get(k, {}))
    t = c.get("txn")
    if t:
        txn = state["txn"]
        txn[t["app_id"]] = max(txn.get(t["app_id"], -1), t["version"])
    op = c.get("op")
    cons = state["constraints"]
    if op == "add_constraint":
        cons[c["constraint"]["name"]] = c["constraint"]["expr"]
    elif op == "drop_constraint":
        cons.pop(c["constraint"]["name"], None)
    elif op == "clone" and c.get("constraints"):
        cons.update(c["constraints"])
    # identity: declared by set_identity / clone, advanced (never
    # lowered) by every id-assigning commit's ``identity_next``
    if op in ("set_identity", "clone") and c.get("identity"):
        state["identity"] = dict(c["identity"])
    elif state["identity"] is not None and c.get("identity_next") is not None:
        ident = state["identity"]
        ident["next"] = max(ident["next"], c["identity_next"])
    if c.get("column_mapping") is not None:
        state["column_mapping"] = c["column_mapping"]
    props = state["properties"]
    if op == "set_properties":
        for k, val in c["properties"].items():
            if val is None:
                props.pop(k, None)
            else:
                props[k] = val
    elif op == "clone" and c.get("properties"):
        props.update(c["properties"])
    # row tracking: per-file bases are assigned once per add; the
    # high-water mark only rises
    rt = state["row_tracking"]
    if c.get("row_tracking") is not None and rt is None:
        rt = state["row_tracking"] = {
            "enabled": True, "high_water": 0, "base": {},
        }
    if rt is not None:
        for f in c.get("remove", []):
            rt["base"].pop(f, None)
        for f, bv in c.get("row_base", {}).items():
            rt["base"][f] = list(bv)
        if c.get("row_high_water") is not None:
            rt["high_water"] = max(rt["high_water"], int(c["row_high_water"]))
    # clustering: a ``clustering`` key REPLACES the state (set, unset,
    # clone, restore; a new key resets the clustered set, since files
    # laid out for the old key don't satisfy it); adds join the
    # clustered set only when flagged ``clustered_add``
    if c.get("clustering") is not None:
        cl = c["clustering"]
        state["clustering"] = (
            {"cols": list(cl["cols"]), "clustered": set(cl.get("clustered", []))}
            if cl.get("cols")
            else None
        )
    if state["clustering"] is not None:
        clustered = state["clustering"]["clustered"]
        clustered.difference_update(c.get("remove", []))
        if c.get("clustered_add"):
            clustered.update(c.get("add", []))
    for k, dval in (c.get("defaults") or {}).items():
        if dval is None:
            state["defaults"].pop(k, None)
        else:
            state["defaults"][k] = dval
    if c.get("table_stats") is not None:
        state["table_stats"] = c["table_stats"]
    # each commit's "features" is the COMPLETE recorded set as of that
    # commit: newest WINS (a union would resurrect a drop_feature());
    # pre-feature commits lack the key and change nothing
    if "features" in c:
        state["features"] = set(c["features"])
    # copy_into's loaded-source record must survive log vacuum:
    # forgetting a loaded file would re-ingest it
    state["copy_sources"].update(c.get("copy_sources", []))
    for k in ("partition_by", "generated_columns", "bloom_columns"):
        if k in c:
            state[k] = c[k]
    state["version"] = c["version"]
    state["timestamp"] = c.get("timestamp")


def finish(state: dict) -> dict:
    """A working state in the checkpoint's shape: lists for sets, and
    every per-file entry narrowed to the live files, so the state is
    bounded by table size, not table history. Only stale entries are
    dropped, so a map that has none (a checkpoint plus an append
    tail) is kept as is: the maps are checkpoint-sized, and this runs
    on every fold."""
    live = state["live"]

    def narrow(m: dict) -> dict:
        stale = m.keys() - live.keys()
        if stale:
            m = dict(m)
            for f in stale:
                del m[f]
        return m

    out = dict(state)
    out["live"] = list(live)
    for k in PER_FILE:
        out[k] = narrow(state[k])
    rt = state["row_tracking"]
    if rt is not None:
        out["row_tracking"] = {**rt, "base": narrow(rt["base"])}
    cl = state["clustering"]
    if cl is not None:
        out["clustering"] = {
            "cols": cl["cols"],
            "clustered": sorted(f for f in cl["clustered"] if f in live),
        }
    out["features"] = sorted(state["features"])
    out["copy_sources"] = sorted(state["copy_sources"])
    return out


def fold(
    log_path: str,
    version: int | None = None,
    timestamp: str | float | None = None,
) -> dict:
    """Table state at the head, at ``version``, or at the last commit
    whose timestamp is at or before ``timestamp``, in the checkpoint's
    shape (:func:`finish`). Starts from the newest checkpoint not past
    the target and applies the commit tail.

    With no such checkpoint the fold starts at v0, which is valid
    only while the log still starts there: after ``vacuum_log`` a
    truncated prefix would silently MISS the early adds, so the read
    raises instead. A version past the head raises too."""
    ts = epoch(timestamp) if timestamp is not None else None
    cp = latest_checkpoint(
        log_path,
        max_version=version,
        max_timestamp=ts if version is None else None,
    )
    if cp is None and (version is not None or ts is not None):
        versions = commit_versions(log_path)
        truncated = not versions or versions[0] > 0
        if truncated and latest_checkpoint(log_path) is not None:
            oldest = f"v{versions[0]}" if versions else "none"
            raise ValueError(
                "requested snapshot predates log retention: early "
                "commits were removed by vacuum_log (oldest retained "
                f"commit: {oldest})"
            )
    state = state_from(cp)
    for c in iter_commits(
        log_path, state["version"] + 1, version if ts is None else None
    ):
        if version is not None and c["version"] > version:
            break
        if ts is not None and c["timestamp"] > ts:
            break
        apply(state, c)
    if version is not None and state["version"] < version:
        raise ValueError(
            f"version {version} does not exist (latest: {state['version']})"
        )
    return finish(state)


def row_bases(log_path: str) -> dict[str, list[int]]:
    """Every per-file base row id the retained log records: the
    checkpoint below the oldest retained commit, then every retained
    commit's ``row_base``. Bases are write-once, so this union also
    resolves files that have since left the table (a change feed or
    stream starting before they did). Empty without row tracking."""
    versions = commit_versions(log_path)
    cp = latest_checkpoint(
        log_path, max_version=versions[0] - 1 if versions else None
    )
    out: dict[str, list[int]] = {}
    if cp and cp.get("row_tracking"):
        out.update(cp["row_tracking"]["base"])
    for v in versions:
        for f, b in read_commit(log_path, v).get("row_base", {}).items():
            out[f] = list(b)
    return out


# ----------------------------------------------------------------------
# schema and paths
# ----------------------------------------------------------------------
def merged_fields(schemas: list[str]) -> list[dict]:
    """The TABLE schema from the batch-schema history: each commit
    records the schema of ITS batch, so the table schema is the UNION
    in first-seen field order. Reading ``schemas[-1]`` as the table
    schema forgets evolved columns the moment a narrower batch lands
    (for a DELETE rewriting a wide file after a narrow append, that
    nulled the survivors' evolved columns).

    Same-name type conflicts resolve to the WIDER type when the pair
    is an upcast (a ``widen_type`` commit must not be reverted by a
    later batch that still carries the narrow type), newest
    otherwise."""
    order: dict[str, dict] = {}
    for s in schemas:
        for f in json.loads(s)["fields"]:
            prev = order.get(f["name"])
            if prev is not None and prev["type"] != f["type"]:
                a, b = (
                    JSON_TO_SIMPLE.get(t) if isinstance(t, str) else None
                    for t in (prev["type"], f["type"])
                )
                if a and b and (b, a) in UPCASTS:
                    continue  # prev is wider: keep it
            order[f["name"]] = f  # keeps first-seen position
    return list(order.values())


def partition_values(rel: str) -> dict[str, str | None]:
    """The decoded ``key=value`` directory segments of a data file's
    relative path (the writer percent-encodes special characters);
    the hive NULL sentinel maps to None."""
    out: dict[str, str | None] = {}
    for seg in rel.split("/")[:-1]:
        if "=" in seg:
            k, _, raw = seg.partition("=")
            v = unquote(raw)
            out[unquote(k)] = None if v == HIVE_NULL else v
    return out

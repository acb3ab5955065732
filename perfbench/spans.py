"""Spans and counters for the benchmark.

Spans are recorded only from the benchmark's own files, around calls
into the package's public functions. A disabled tracer records
nothing, so untraced runs pay one attribute test per span.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span is ``[name, start, end,
    parent, op_id]`` with times from ``time.perf_counter``. Spans
    opened on a thread other than the one that created the tracer
    (the streaming sink runs on a py4j callback thread) take the main
    thread's innermost open span as their parent: that span is the
    operation that caused them."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self._main = threading.get_ident()
        self._stacks: dict[int, list[int]] = {}
        self._lock = threading.Lock()
        self.op_id = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            if stack:
                parent = stack[-1]
            else:
                main = self._stacks.get(self._main) or [None]
                parent = main[-1] if tid != self._main else None
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
            stack.append(idx)
        try:
            yield
        finally:
            end = time.perf_counter()
            with self._lock:
                self._stacks[tid].pop()
                self.spans[idx][2] = end

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name: a span's duration minus
        the part of its interval that its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for name, start, end, parent, _op in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((start, end))
        out: dict[str, float] = {}
        for i, (name, start, end, _parent, _op) in enumerate(self.spans):
            covered, reach = 0.0, start
            for cs, ce in sorted(children.get(i, ())):
                cs, ce = max(cs, reach), min(ce, end)
                if ce > cs:
                    covered += ce - cs
                    reach = ce
            out[name] = out.get(name, 0.0) + (end - start) - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(
                    json.dumps(
                        {"name": name, "start": start, "end": end,
                         "parent": parent, "op": op}
                    )
                    + "\n"
                )


def span_cost_s(n: int = 20_000) -> float:
    """Measured cost of one enabled span, in seconds."""
    t = Tracer(True)
    start = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - start) / n


def layer_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


def jobs_so_far(spark) -> int:
    """Jobs ever submitted on this context: the DAG scheduler's job-id
    counter, exact with one client."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def dir_files(path: str, skip: str | None = None) -> dict[str, int]:
    """Relative path -> size of every regular file under ``path``,
    leaving out the subtree named ``skip`` and Spark's ``.crc``
    side files."""
    out: dict[str, int] = {}
    for dirpath, dirnames, filenames in os.walk(path):
        if skip is not None and skip in dirnames:
            dirnames.remove(skip)
        for fn in filenames:
            if fn.endswith(".crc"):
                continue
            full = os.path.join(dirpath, fn)
            out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks incl. reaped children) from /proc."""
    out: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def descendants(pid: int, table: dict | None = None) -> list[int]:
    """Every live process below ``pid``."""
    table = table if table is not None else _proc_table()
    out = []
    for p in table:
        q = table[p][0]
        while q and q != pid:
            q = table.get(q, (0, 0))[0]
        if q == pid:
            out.append(p)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and all its descendants: the benchmark, its Spark driver
    JVM and Spark's Python workers."""
    table = _proc_table()
    me = os.getpid()
    ticks = sum(table[p][1] for p in [me, *descendants(me, table)] if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")

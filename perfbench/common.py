"""Shared pieces of the benchmark: spans and counters, percentiles, peak RSS
and run metadata."""

from __future__ import annotations

import os
import platform
import time
from collections import defaultdict


E2E_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_p90_s": "s",
    "peak_rss_mb": "MB",
}

# Per-layer metrics. Every run with tracing on reports all of them; a layer a
# workload does not reach reads 0.
SPARK_COUNTERS = (
    "io.load_calls", "io.load_s", "io.load_jobs",
    "operators.build_s", "operators.build_jobs",
    "spark.action_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "cache.persists", "cache.release_s",
    "streaming.queries", "streaming.triggers", "streaming.trigger_s",
    "streaming.add_batch_s", "streaming.wal_commit_s", "streaming.planning_s",
    "streaming.input_rows", "streaming.state_rows", "streaming.idle_s",
)
SPARK_SPANS = (
    "query", "operators.build", "io.load_table", "spark.action",
    "cache.release", "streaming.trigger",
)
NATS_COUNTERS = (
    "natsclient.msgs", "natsclient.bytes", "natsclient.busy_s",
    "client.dispatch_s", "client.callbacks", "cdcmsg.decode_s",
    "mqtt.match_calls", "mqtt.match_s", "mqtt.match_ratio",
    "gen.sent", "gen.late_p99_s",
)
NATS_SPANS = (
    "nats.message", "natsclient.next_msg", "client.dispatch",
    "cdcmsg.decode", "mqtt.match",
)


def per_layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric, in report order."""
    names = (list(SPARK_COUNTERS) + list(NATS_COUNTERS)
             + [f"self.{s}_s" for s in SPARK_SPANS + NATS_SPANS]
             + ["trace.overhead_s"] + [f"traced.{k}" for k in E2E_UNITS])
    out = {}
    for name in names:
        if name.startswith("traced."):
            out[name] = E2E_UNITS[name[len("traced."):]]
        elif name.endswith("_bytes") or name == "natsclient.bytes":
            out[name] = "B"
        elif name.endswith("_s"):
            out[name] = "s"
        elif name == "mqtt.match_ratio":
            out[name] = "ratio"
        else:
            out[name] = "count"
    return out


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Tracer:
    """In-memory spans and counters, written out when the run ends.

    A span is ``[id, name, start, end, parent_id, root_id]`` on the
    ``time.perf_counter`` clock; spans of one request share ``root_id``.
    ``overhead_s`` accumulates the time the benchmark spends on its own
    bookkeeping (status-store reads, listener drains), so a traced run can
    report what tracing cost it.
    """

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._stack: list[int] = []

    def begin(self, name: str, start: float | None = None) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        root = self.spans[parent][5] if parent is not None else sid
        self.spans.append([sid, name, start if start is not None else time.perf_counter(), None, parent, root])
        self._stack.append(sid)
        return sid

    def end(self, sid: int, end: float | None = None) -> float:
        span = self.spans[sid]
        span[3] = end if end is not None else time.perf_counter()
        self._stack.pop()
        return span[3] - span[2]

    def add_span(self, name: str, start: float, end: float, parent: int) -> None:
        """Record a finished span under ``parent`` (used for streaming
        triggers, whose times arrive after the fact from a listener)."""
        sid = len(self.spans)
        self.spans.append([sid, name, start, end, parent, self.spans[parent][5]])

    def count(self, name: str, value: float = 1) -> None:
        self.counters[name] += value

    def self_times(self, scale: dict[str, float] | None = None) -> dict[str, float]:
        """Per span name, the summed duration minus the part of each span's
        interval covered by its children. ``scale`` multiplies the self time
        of spans whose root has the given name (sampled request types)."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sid, _, start, end, parent, _ in self.spans:
            if parent is not None and end is not None:
                children[parent].append((start, end))
        out: dict[str, float] = defaultdict(float)
        for sid, name, start, end, _, root in self.spans:
            if end is None:
                continue
            covered = 0.0
            cur_s = cur_e = None
            for cs, ce in sorted(children.get(sid, ())):
                cs, ce = max(cs, start), min(ce, end)
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            factor = (scale or {}).get(self.spans[root][1], 1.0)
            out[name] += (end - start - covered) * factor
        return dict(out)


def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every live
    descendant (the JVM and its Python workers)."""
    kids = _children_of()
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += _vm_hwm_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


def loadavg() -> list[float]:
    return list(os.getloadavg())


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_head(root: str) -> str:
    """HEAD of the checkout when it is a git work tree, else ``unknown``."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def metadata(root: str, workload: str, seed: int, seconds: int, trace: bool) -> dict:
    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "nproc": nproc(),
        "loadavg_before": loadavg(),
        "git_head": git_head(root),
        "python": platform.python_version(),
        "host": platform.machine(),
        "started_unix": time.time(),
    }

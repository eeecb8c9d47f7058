"""Traced-run tooling: spans, job-group attribution, event-log parsing.

Spans are recorded by the benchmark around its own calls into each layer
(no span lives inside ``kgp``).  Each span also sets the Spark job group
to its layer, so the event log attributes every job, stage and task to
the layer that submitted it; jobs submitted from threads the benchmark
does not control (the linking branch of ``build_graph``, the streaming
micro-batch thread) carry no layer group and are attributed to the
innermost span whose interval contains their submission time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = ("session", "order", "extract", "link", "cc", "materialize",
          "exec", "run", "io", "stream")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    rep_id: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder; ``spans`` is written out when the run ends."""

    sc: object = None  # SparkContext whose job group follows the open span
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, layer: str, rep_id: str = ""):
        parent = self._stack[-1] if self._stack else None
        if not rep_id and parent is not None:
            rep_id = self.spans[parent].rep_id
        self.spans.append(Span(name, layer, time.time(), parent=parent, rep_id=rep_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self._set_group(layer)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].layer if self._stack else "glue")

    def _set_group(self, layer: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(layer, layer)

    def busy_s(self, layer: str) -> float:
        """Sum of the durations of the outermost spans of ``layer``."""
        return sum(s.duration for s in self.spans
                   if s.layer == layer
                   and (s.parent is None or self.spans[s.parent].layer != layer))

    def self_s(self, idx: int) -> float:
        """A span's duration minus what its direct children cover."""
        kids = [s for s in self.spans if s.parent == idx]
        return self.spans[idx].duration - sum(k.duration for k in kids)

    def layer_at(self, t: float) -> str:
        """Layer of the innermost span open at epoch time ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= (s.end or float("inf")):
                if best is None or s.start >= best.start:
                    best = s
        return best.layer if best and best.layer in LAYERS else ""

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) | {"self_s": self.self_s(i)}
                       for i, s in enumerate(self.spans)], f, indent=1)


@dataclass
class LayerStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(path: str, tracer: Tracer) -> dict[str, LayerStats]:
    """Per-layer job/task counters from a Spark event log (JSON lines)."""
    stats = {layer: LayerStats() for layer in LAYERS}
    stage_layer: dict[int, str] = {}

    def layer_of(props: dict, submitted_ms: float | None) -> str:
        group = (props or {}).get("spark.jobGroup.id", "")
        if group in stats:
            return group
        return tracer.layer_at(submitted_ms / 1000.0) if submitted_ms else ""

    with open(path) as f:
        lines = f.readlines()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            layer = layer_of(ev.get("Properties"), ev.get("Submission Time"))
            if layer:
                stats[layer].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            layer = layer_of(ev.get("Properties"), info.get("Submission Time"))
            stage_layer[info["Stage ID"]] = layer
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(ev["Stage ID"], "")
            if not layer:
                continue
            st = stats[layer]
            st.tasks += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                st.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            st.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return stats


def find_event_log(log_dir: str) -> str:
    logs = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one Spark event log in {log_dir}, found {len(logs)}")
    return logs[0]


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree (from /proc)."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and all its descendants:
    the driver, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += sum(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except OSError:
            continue  # exited since the tree was read
    return total_kb / 1024.0

"""Tracing for the benchmark's traced run, all from outside the program.

- :class:`Tracer` records a span (name, start, end, parent, operation id)
  around every call the benchmark makes into a layer's public functions.
  Spans stay in memory and are written once, at the end.
- :func:`event_log_groups` reads Spark's own event log (uncompressed,
  non-rolling) and sums jobs, stages, tasks and stage metrics per job group;
  the benchmark sets one job group per operation.
- :func:`tree_stats` lists files and bytes under a directory, so the files
  an MV build writes are counted from a listing of its table.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Span recorder. A disabled tracer records nothing; a span then costs
    one generator and one attribute test."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = "setup"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations_ms(self, name: str, op_prefix: str | None = None) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000
            for s in self.spans
            if s["name"] == name
            and (op_prefix is None or s["op"].startswith(op_prefix))
        ]

    def self_times_ms(self) -> dict[str, list[float]]:
        """Per span name: duration minus the time its children cover
        (children of one span never overlap: calls are sequential)."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s, c in zip(self.spans, child_ms):
            out.setdefault(s["name"], []).append((s["end"] - s["start"] - c) * 1000)
        return out

    def summary_lines(self) -> list[str]:
        lines = []
        for name, selfs in sorted(self.self_times_ms().items()):
            total = self.durations_ms(name)
            lines.append(
                f"span {name}: n={len(total)} p50={statistics.median(total):.1f}ms "
                f"self_p50={statistics.median(selfs):.1f}ms"
            )
        return lines

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


# Accumulable names in StageCompleted events.
_ACC = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}
_ZERO = dict.fromkeys(
    ["jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ns", "gc_ms",
     "shuffle_write_bytes", "spill_bytes"],
    0,
)


def event_log_groups(log_dir: Path) -> dict[str, dict[str, int]]:
    """job group -> summed counts and stage metrics, from the one event log
    file in ``log_dir`` (the session must be stopped so it is complete)."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    stage_group: dict[int, str] = {}
    groups: dict[str, dict[str, int]] = {}
    with files[0].open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                g = groups.setdefault(group, dict(_ZERO))
                g["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"], "none")
                g = groups.setdefault(group, dict(_ZERO))
                g["stages"] += 1
                g["tasks"] += info.get("Number of Tasks", 0)
                for acc in info.get("Accumulables", []):
                    key = _ACC.get(acc.get("Name"))
                    if key is not None:
                        g[key] += int(acc.get("Value", 0))
    return groups


def merge_groups(groups: dict[str, dict[str, int]], prefix: str) -> dict[str, int]:
    """Sum every job group whose id starts with ``prefix``."""
    out = dict(_ZERO)
    for name, g in groups.items():
        if name.startswith(prefix):
            for k, v in g.items():
                out[k] += v
    return out


def tree_stats(root: Path, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the data files under ``root``."""
    if not root.exists():
        return 0, 0
    files = [p for p in root.rglob(f"*{suffix}") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)

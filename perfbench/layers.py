"""Per-layer metrics of a traced run, named after the program's modules.

Times come from the benchmark's spans around calls into each layer; job,
stage and task counts and executor metrics come from Spark's event log,
attributed through the job group the benchmark sets per operation; file and
byte counts come from directory listings and the table manifests.
"""

from __future__ import annotations

import json
import statistics
from collections import Counter
from pathlib import Path

from spans import merge_groups, tree_stats

FAMILIES = ("srm", "clustering", "consensus", "join")
MV_FAMILIES = ("srm", "clustering", "join")
SPARK_OPS = ("srm", "clustering", "consensus", "join", "mv_serve", "mv_build")


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _per_op_sums(tracer, name: str, prefix: str) -> list[float]:
    sums: dict[str, float] = {}
    for s in tracer.spans:
        if s["name"] == name and s["op"].startswith(prefix):
            sums[s["op"]] = sums.get(s["op"], 0.0) + (s["end"] - s["start"]) * 1000
    return list(sums.values())


def _mv_build_prefix(timed) -> str:
    """corpus_batch times MV builds in its loop; elsewhere use the set-up's."""
    return "mv_build#" if any(k == "mv_build" for k, _ in timed) else "setup/mv_build."


def per_layer(client, tracer, groups, timed, canary, session_ms: float,
              repeat_share: float, ops_per_s: float) -> dict[str, tuple[float, str]]:
    """``groups`` is :func:`spans.event_log_groups` of the run's event log."""
    n_ops = Counter(k for k, _ in timed)
    counts = client.counts
    m: dict[str, tuple[float, str]] = {}

    def spark_per_op(kind: str) -> dict[str, float]:
        prefix = _mv_build_prefix(timed) if kind == "mv_build" else f"{kind}#"
        merged = merge_groups(groups, prefix)
        n = n_ops[kind] if kind in n_ops else 1
        return {k: v / n for k, v in merged.items()}

    m["session.start_ms"] = (session_ms, "ms")
    m["ingest.build_ms"] = (_median(tracer.durations_ms("ingest.build")), "ms")
    m["ingest.rows_out"] = (counts["ingest.rows_out"], "count")

    m["transaction.append_ms"] = (sum(tracer.durations_ms("transaction.append")), "ms")
    m["transaction.append_jobs"] = (groups.get("append", {}).get("jobs", 0), "count")
    m["transaction.files_per_commit"] = (counts["transaction.files_per_commit"], "count")
    m["transaction.bytes_per_row"] = (counts["transaction.bytes_per_row"], "B/row")
    timed_prefixes = tuple(f"{k}#" for k in n_ops)
    reads = [
        (s["end"] - s["start"]) * 1000
        for s in tracer.spans
        if s["name"] == "transaction.read" and s["op"].startswith(timed_prefixes)
    ]
    m["transaction.read_ms"] = (_median(reads), "ms")
    m["transaction.manifest_bytes"] = (counts["transaction.manifest_bytes"], "B")
    m["transaction.optimize_ms"] = (_median(tracer.durations_ms("transaction.optimize")), "ms")
    m["transaction.files_per_partition"] = (
        counts["transaction.files_per_partition"], "count")

    for f in FAMILIES:
        for phase in ("build", "plan", "exec"):
            m[f"operators.{f}.{phase}_ms"] = (
                _median(tracer.durations_ms(f"operators.{f}.{phase}", f"{f}#")), "ms")
        per_op = spark_per_op(f)
        for k in ("jobs", "stages", "tasks"):
            m[f"operators.{f}.{k}"] = (per_op[k], "count")

    m["result_mv.serve_build_ms"] = (
        _median(tracer.durations_ms("result_mv.serve_build", "mv_serve#")), "ms")
    m["result_mv.serve_exec_ms"] = (
        _median(_per_op_sums(tracer, "result_mv.serve.exec", "mv_serve#")), "ms")
    m["result_mv.serve_jobs"] = (spark_per_op("mv_serve")["jobs"], "count")
    for fam in MV_FAMILIES:
        m[f"result_mv.build_ms.{fam}"] = (
            _median(tracer.durations_ms(f"result_mv.build.{fam}")), "ms")
        builds = [g for name, g in groups.items() if name.endswith(f"/mv_build.{fam}")]
        m[f"result_mv.build_jobs.{fam}"] = (
            sum(g["jobs"] for g in builds) / max(1, len(builds)), "count")
    files = bytes_ = 0
    for mv in client.mvs.values():
        f, b = tree_stats(Path(mv.path))
        files, bytes_ = files + f, bytes_ + b
    m["result_mv.files_written"] = (files, "count")
    m["result_mv.bytes_written"] = (bytes_, "B")

    m["incremental.refresh_ms"] = (_median(tracer.durations_ms("incremental.refresh")), "ms")
    m["incremental.jobs"] = (groups.get("stats_build", {}).get("jobs", 0), "count")
    m["incremental.state_rows"] = (counts["incremental.state_rows"], "count")

    for kind in SPARK_OPS:
        per_op = spark_per_op(kind)
        m[f"spark.{kind}.executor_run_ms"] = (per_op["executor_run_ms"], "ms")
        m[f"spark.{kind}.executor_cpu_ms"] = (per_op["executor_cpu_ns"] / 1e6, "ms")
        m[f"spark.{kind}.shuffle_write_bytes"] = (per_op["shuffle_write_bytes"], "B")
    timed_groups = {k: g for k, g in groups.items() if k.startswith(timed_prefixes)}
    m["spark.gc_ms"] = (sum(g["gc_ms"] for g in timed_groups.values()), "ms")
    m["spark.spill_bytes"] = (sum(g["spill_bytes"] for g in groups.values()), "B")

    m["host.canary_ms"] = (_median(canary), "ms")
    m["workload.repeat_share"] = (repeat_share, "ratio")
    m["trace.ops_per_s"] = (ops_per_s, "1/s")
    return m


def exact_counts(client, groups, timed) -> dict[str, float]:
    """Counts that load cannot change: jobs, stages and tasks per operation
    type and set-up step, and files and rows written."""
    out: dict[str, float] = {}
    steps = {k: f"{k}#" for k in {k for k, _ in timed}}
    steps.update({"append": "append", "optimize": "optimize",
                  "stats_build": "stats_build", "setup_mv_build": "setup/mv_build."})
    for name, prefix in sorted(steps.items()):
        merged = merge_groups(groups, prefix)
        for k in ("jobs", "stages", "tasks"):
            out[f"{name}.{k}"] = merged[k]
    # manifest bytes are left out: a manifest records its commit time, whose
    # printed length varies
    for k in ("transaction.files_per_commit", "ingest.rows_out", "incremental.state_rows"):
        out[k] = client.counts[k]
    for fam, mv in client.mvs.items():
        out[f"mv_{fam}.files"] = tree_stats(Path(mv.path))[0]
    return out


def report_counts(client, groups, timed, path: Path) -> list[str]:
    """Write this run's exact counts to ``path``; when a previous traced run
    of the same workload and seed left one there, flag every count that
    differs (an A/A pair must agree exactly)."""
    counts = exact_counts(client, groups, timed)
    lines = [f"exact counts: {json.dumps(counts, sort_keys=True)}"]
    if path.exists():
        prev = json.loads(path.read_text())
        diff = {k: (prev.get(k), v) for k, v in counts.items() if prev.get(k) != v}
        lines.append(
            "exact counts: identical to the previous traced run" if not diff
            else f"exact counts DIFFER from the previous traced run: {json.dumps(diff)}"
        )
    path.write_text(json.dumps(counts, sort_keys=True))
    return lines

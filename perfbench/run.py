"""Benchmark of the observation lakehouse: one closed-loop client.

    python3 perfbench/run.py --workload problem_lookup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run generates the workload's inputs
from ``--seed`` (perfbench/gen.py), starts a session with ``get_spark()`` on
``local[nproc]``, ingests and prepares the lakehouse, warms up, runs a fixed
sequence of operations sized by ``--seconds``, checks every result, and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and the
metrics (end-to-end with ``--trace 0``, per-layer with ``--trace 1``).
Everything it writes stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (spans, counts and results of past runs) in the checkout.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
N_PROBLEMS = 6
CANARY_N = 20_000

# name -> (operation kinds of one round, nominal operations per second on a
# 4-core host). The seed fixes which problems a round reads; --seconds fixes
# the number of rounds, so both sides of a comparison run the same work.
WORKLOADS = {
    "problem_lookup": (("srm", "clustering", "consensus", "join", "mv_serve"), 2.0),
    "corpus_batch": (("mv_build", "mv_serve", "srm", "clustering", "consensus", "join"), 0.6),
}
# Rounds run before timing starts; they count in setup_s. corpus_batch's
# set-up leaves the MV builds to its rounds, so its warm-up round builds them.
WARMUP_ROUNDS = 1


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-memory", default="2g")
    return ap.parse_args(argv)


def schedule(corpus, workload: str, seconds: int, rounds: int | None = None):
    """The fixed operation sequence: whole rounds of every kind. Each kind
    reads the same Zipf multiset of problem ranks, in seeded order."""
    kinds, rate = WORKLOADS[workload]
    if rounds is None:
        rounds = max(2, round(seconds * rate / len(kinds)))
    pids = {k: corpus.draws(rounds) for k in kinds}
    return [(k, pids[k][r]) for r in range(rounds) for k in kinds]


def canary_ms() -> float:
    """A fixed pure-Python loop: shows host slowdowns, scales nothing."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CANARY_N):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000


def percentile_report(values: list[float]) -> str:
    """p50 with its sample count, and the highest of p90/p99 that still has
    at least 10 samples beyond it."""
    v = sorted(values)
    text = f"p50={statistics.median(v):.1f} n={len(v)} min={v[0]:.1f} max={v[-1]:.1f}"
    for q in (99, 90):
        if len(v) * (100 - q) / 100 >= 10:
            text += f" p{q}={v[min(len(v) - 1, int(len(v) * q / 100))]:.1f}"
            break
    return text


def prepare_env(work: Path) -> None:
    """Session-independent process settings: cores, working directories inside the
    checkout, and the package on the Python workers' path."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    import tempfile

    tempfile.tempdir = str(work / "tmp")


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import observation_lakehouse_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    prepare_env(work)
    try:
        return run(args, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path, out: Path) -> int:
    import gen
    import ops
    from spans import Tracer, event_log_groups

    tracer = Tracer(bool(args.trace))
    corpus = gen.Corpus(args.seed, N_PROBLEMS)
    inputs = corpus.write_export(work / "export")
    warm = schedule(corpus, args.workload, args.seconds, WARMUP_ROUNDS)
    timed = schedule(corpus, args.workload, args.seconds)

    from observation_lakehouse_spark.session import get_spark

    conf = {"spark.driver.memory": args.driver_memory}
    if args.trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark("perfbench", extra_conf=conf)
    session_ms = (time.perf_counter() - t0) * 1000
    try:
        client = ops.Client(spark, work / "lake", corpus, tracer)
        client.setup(work / "export", build_mvs=args.workload != "corpus_batch")
        warm_failed = 0
        for i, (kind, pid) in enumerate(warm):
            client.group(f"warmup.{kind}#{i}")
            try:
                check(client, args.workload, kind, pid, call(client, args.workload, kind, pid))
            except Exception as e:  # noqa: BLE001 - reported through "correct"
                warm_failed += 1
                print(f"warm-up {kind} {pid} failed: {type(e).__name__}: {e}"[:400])
        setup_s = time.perf_counter() - T_START

        lat: dict[str, list[float]] = {k: [] for k in WORKLOADS[args.workload][0]}
        canary: list[float] = []
        failed = 0
        busy = 0.0
        for i, (kind, pid) in enumerate(timed):
            canary.append(canary_ms())
            client.group(f"{kind}#{i}")
            t0 = time.perf_counter()
            try:
                res = call(client, args.workload, kind, pid)
            except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
                busy += time.perf_counter() - t0
                failed += 1
                print(f"op {i} {kind} {pid} raised {type(e).__name__}: {e}"[:400])
                continue
            dt = time.perf_counter() - t0
            busy += dt
            try:
                check(client, args.workload, kind, pid, res)
            except Exception as e:  # noqa: BLE001 - a malformed result is a wrong one
                failed += 1
                print(f"op {i} {kind} {pid} wrong result: {e}"[:400])
                continue
            lat[kind].append(dt * 1000)
        client.group("done")
    finally:
        stop_session(spark)

    seen: set = set()
    repeats = 0
    for kind, pid in timed:
        key = (kind, pid if args.workload == "problem_lookup" or kind == "mv_serve" else None)
        repeats += key in seen
        seen.add(key)
    attempted = len(timed)
    ops_per_s = (attempted - failed) / busy
    # corpus_batch times MV builds in its loop; problem_lookup has the set-up's
    if client.setup_build_ms is not None:
        lat["mv_build"] = [client.setup_build_ms]
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (ops_per_s, "1/s"),
        # a type whose every operation failed has no p50; the run is incorrect
        **{f"{k}_p50_ms": (statistics.median(v), "ms") for k, v in lat.items() if v},
    }
    print(f"workload={args.workload} seed={args.seed} inputs: {N_PROBLEMS} problems, "
          f"{inputs['observations']} observations, {inputs['cells']} cells, "
          f"{inputs['implementations']} implementations, {inputs['bytes']} bytes")
    print(f"timed operations: {attempted} attempted, {failed} failed; "
          f"repeat share {repeats / attempted:.3f}")
    for k, v in lat.items():
        if v:
            print(f"latency {k}: {percentile_report(v)} ms")
    print(f"host canary: p50={statistics.median(canary):.3f} ms "
          f"p90={sorted(canary)[int(len(canary) * 0.9)]:.3f} ms (diagnostic only)")
    print(f"setup_s={setup_s:.2f} (session start {session_ms:.0f} ms)")

    metrics = e2e
    if args.trace:
        import layers

        groups = event_log_groups(work / "eventlog")
        metrics = layers.per_layer(
            client, tracer, groups, timed, canary, session_ms, repeats / attempted, ops_per_s,
        )
        for line in layers.report_counts(client, groups, timed,
                                         out / f"counts-{args.workload}-{args.seed}.json"):
            print(line)
        tracer.dump(out / f"spans-{args.workload}-{args.seed}.json")
        for line in tracer.summary_lines():
            print(line)
        prev = out / f"e2e-{args.workload}-{args.seed}.json"
        if prev.exists():
            base = json.loads(prev.read_text())
            for k, (v, unit) in e2e.items():
                if k in base:
                    print(f"tracing overhead {k}: {v - base[k]:+.3f} {unit} "
                          f"({(v / base[k] - 1) * 100:+.1f}%)")
    else:
        (out / f"e2e-{args.workload}-{args.seed}.json").write_text(
            json.dumps({k: v for k, (v, _) in e2e.items()})
        )
    result = {
        "correct": failed == 0 and warm_failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def call(client, workload: str, kind: str, pid: str):
    if workload == "problem_lookup" or kind == "mv_serve":
        return getattr(client, kind)(pid)
    if kind == "mv_build":
        return client.mv_build()
    return getattr(client, f"corpus_{kind}")()


def check(client, workload: str, kind: str, pid: str, res) -> None:
    if kind == "mv_serve":
        client.check_mv_serve(pid, res)
    elif workload == "corpus_batch":
        client.check_corpus(kind, res)
    elif kind == "srm":
        client.check_srm(pid, res)
    elif kind == "clustering":
        client.check_clusters(pid, res)
    elif kind == "consensus":
        client.check_consensus(pid, res)
    else:
        client.check_join(pid, res)


if __name__ == "__main__":
    sys.exit(main())

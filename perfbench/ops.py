"""The benchmark's client: drives the program through its public functions
and checks every result against the generator's planted truth.

Every call into a layer is wrapped in a tracer span named after the layer's
module (``transaction``, ``ingest``, ``operators.<family>``, ``result_mv``,
``incremental``), and in the traced run every operation runs under its own
Spark job group, so the event log attributes each job to an operation type.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from spans import Tracer

from observation_lakehouse_spark.ingest.arena import (
    reshape_code_implementations,
    reshape_observations,
    reshape_tests,
)
from observation_lakehouse_spark.lakehouse import ObservationLakehouse
from observation_lakehouse_spark.operators.clustering import (
    behavioral_clustering,
    consensus_oracle,
)
from observation_lakehouse_spark.operators.joins import three_way_join
from observation_lakehouse_spark.operators.srm import srm_output_map, srm_output_view
from observation_lakehouse_spark.plans.incremental import IncrementalAggregate
from observation_lakehouse_spark.plans.result_mv import (
    ProblemResultMV,
    clustering_mv_compute,
    srm_map_mv_compute,
    three_way_join_mv_compute,
)
from observation_lakehouse_spark.sources.io import read_arena_export

DS = gen.DATA_SET
TABLES = ("observations", "code_implementations", "tests")
MV_FAMILIES = ("srm", "clustering", "join")


class CheckFailed(Exception):
    """An operation returned a result that differs from the planted truth."""


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Client:
    """One closed-loop client over one lakehouse."""

    def __init__(self, spark, root: Path, corpus: gen.Corpus, tracer: Tracer) -> None:
        self.spark = spark
        self.root = root
        self.corpus = corpus
        self.tracer = tracer
        self.span = tracer.span
        self.lh: ObservationLakehouse | None = None
        self.mvs: dict[str, ProblemResultMV] = {}
        self.counts: dict[str, float] = {}  # exact per-layer counts from set-up
        self.setup_build_ms: float | None = None
        self._srm_truth: dict[str, list[tuple]] = {}

    # -- job groups -----------------------------------------------------------

    def group(self, name: str) -> None:
        self.tracer.op_id = name
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(name, name)

    # -- set-up ---------------------------------------------------------------

    def setup(self, export: Path, build_mvs: bool = True) -> None:
        """Ingest the corpus export through the write path, compact it, and
        build the three result MVs (unless the workload times that itself)
        and the per-problem stats view."""
        self.group("ingest")
        with self.span("ingest.build"):
            cells = read_arena_export(self.spark, str(export / "cells.parquet"))
            frames = {
                "observations": reshape_observations(
                    cells, data_set_id=DS, ingested_at=gen.CREATED_AT
                ),
                "tests": reshape_tests(cells, data_set_id=DS, ingested_at=gen.CREATED_AT),
                "code_implementations": reshape_code_implementations(
                    self.spark, str(export / "solr.json"),
                    data_set_id=DS, ingested_at=gen.CREATED_AT,
                ),
            }
        self.lh = ObservationLakehouse(
            self.spark, database="bench", table_format="atomic",
            location=str(self.root / "warehouse"),
        )
        obs_table = self.lh.snapshot_table("observations")
        self.group("append")
        for name in TABLES:
            with self.span("transaction.append"):
                self.lh.append(name, frames[name], idempotency_key=f"export-{name}")
        head = _manifest(obs_table)
        data_dir = obs_table.data_dir
        self.counts["transaction.files_per_commit"] = len(head["files"])
        written = sum((data_dir / f).stat().st_size for f in head["files"])
        rows = _parquet_rows(data_dir, head["files"])
        self.counts["ingest.rows_out"] = rows
        self.counts["transaction.bytes_per_row"] = written / rows
        expect(rows == sum(p.rows for p in self.corpus.problems.values()),
               f"ingested {rows} observation rows")

        self.group("optimize")
        with self.span("transaction.optimize"):
            for name in TABLES:
                self.lh.snapshot_table(name).optimize()
        head = _manifest(obs_table)
        self.counts["transaction.files_per_partition"] = len(head["files"]) / len(
            {str(Path(f).parent) for f in head["files"]}
        )
        self.counts["transaction.manifest_bytes"] = (
            obs_table.manifest_dir / f"v{obs_table.latest_version()}.json"
        ).stat().st_size

        code, tests = self.table("code_implementations"), self.table("tests")
        self.mvs = {
            "srm": ProblemResultMV(self.spark, str(self.root / "mv_srm"), srm_map_mv_compute),
            "clustering": ProblemResultMV(
                self.spark, str(self.root / "mv_clustering"), clustering_mv_compute
            ),
            "join": ProblemResultMV(
                self.spark, str(self.root / "mv_join"),
                three_way_join_mv_compute(code, tests),
            ),
        }
        if build_mvs:
            self.group("setup")
            self.setup_build_ms = self.build_mvs()
            self.check_mv_layout()

        stats_view = IncrementalAggregate(
            self.spark, str(self.root / "stats_view"),
            keys=["data_set_id", "problem_id"],
            aggs={
                "n": ("count", "1"),
                "exec_ms": ("sum", "CAST(execution_time_ms AS DECIMAL(18,3))"),
            },
        )
        self.group("stats_build")
        with self.span("incremental.refresh"):
            stats_view.refresh(self.table("observations"), idempotency_key="export")
        got = {r["problem_id"]: (r["n"], float(r["exec_ms"]))
               for r in stats_view.read().collect()}
        self.counts["incremental.state_rows"] = len(got)
        want = {p.pid: (p.rows, p.total_exec_ms()) for p in self.corpus.problems.values()}
        expect(got == want, "stats view differs from the planted corpus")

    def table(self, name: str):
        with self.span("transaction.read"):
            return self.lh.table(name)

    def build_mvs(self) -> float:
        """``refresh_full`` of the three result MVs; returns the wall ms."""
        t0 = time.perf_counter()
        op = self.tracer.op_id
        obs = self.table("observations")
        for fam, mv in self.mvs.items():
            self.group(f"{op}/mv_build.{fam}")
            with self.span(f"result_mv.build.{fam}"):
                mv.refresh_full(obs)
        self.group(op)
        return (time.perf_counter() - t0) * 1000

    def check_mv_layout(self) -> None:
        want = {f"problem_id={pid}" for pid in self.corpus.problems}
        for fam, mv in self.mvs.items():
            got = {p.name for p in (Path(mv.path) / f"data_set_id={DS}").iterdir()
                   if p.is_dir()}
            expect(got == want, f"{fam} MV partitions {sorted(got ^ want)[:3]}")

    # -- fetching ---------------------------------------------------------------

    def fetch(self, layer: str, df):
        """``toPandas()``; the traced run first forces ``executedPlan`` so
        Catalyst's analysis, optimization and planning time is its own span."""
        if self.tracer.enabled:
            with self.span(f"{layer}.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.span(f"{layer}.exec"):
            return df.toPandas()

    def sink(self, layer: str, df, *aggs):
        """Run ``df`` into the ``noop`` sink, observing ``aggs`` on the way
        so the result can be checked without a second job."""
        ob = Observation(f"check_{self.tracer.op_id.replace('.', '_').replace('#', '_')}")
        df = df.observe(ob, *aggs)
        if self.tracer.enabled:
            with self.span(f"{layer}.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.span(f"{layer}.exec"):
            df.write.format("noop").mode("overwrite").save()
        return ob.get

    # -- operations: one problem --------------------------------------------------

    def srm(self, pid: str):
        obs = self.table("observations")
        impls = self.corpus.problems[pid].impl_ids()
        with self.span("operators.srm.build"):
            df = srm_output_view(obs, problem_id=pid, data_set_id=DS, implementation_ids=impls)
        return self.fetch("operators.srm", df)

    def clustering(self, pid: str):
        obs = self.table("observations")
        with self.span("operators.clustering.build"):
            df = behavioral_clustering(obs, problem_id=pid, data_set_id=DS)
        return self.fetch("operators.clustering", df)

    def consensus(self, pid: str):
        obs = self.table("observations")
        with self.span("operators.consensus.build"):
            df = consensus_oracle(obs, problem_id=pid, data_set_id=DS)
        return self.fetch("operators.consensus", df)

    def join(self, pid: str):
        obs, code, tests = (self.table(t) for t in TABLES)
        with self.span("operators.join.build"):
            df = three_way_join(obs, code, tests, data_set_id=DS, problem_id=pid)
        return self.fetch("operators.join", df)

    def mv_serve(self, pid: str):
        with self.span("result_mv.serve_build"):
            dfs = [self.mvs[f].serve(DS, pid) for f in MV_FAMILIES]
        return [self.fetch("result_mv.serve", df) for df in dfs]

    def check_srm(self, pid: str, pdf) -> None:
        p = self.corpus.problems[pid]
        if pid not in self._srm_truth:
            cells = p.srm_cells()
            impls = p.impl_ids()
            self._srm_truth[pid] = [
                (t, s, *(row[i] for i in impls)) for (t, s), row in sorted(cells.items())
            ]
        expect(list(pdf.columns) == ["test_id", "step_id", *p.impl_ids()],
               f"srm columns of {pid}")
        got = [(t, int(s), *rest) for t, s, *rest in pdf.itertuples(index=False, name=None)]
        expect(got == self._srm_truth[pid], f"srm cells of {pid}")

    def check_clusters(self, pid: str, pdf, ordered: bool = True) -> None:
        p = self.corpus.problems[pid]
        got = [(tuple(m), int(n)) for m, n in
               zip(pdf["equivalent_commits_cluster"], pdf["cluster_size"])]
        if not ordered:
            got.sort(key=lambda x: (-x[1], x[0]))
        expect(got == p.clusters(), f"clusters of {pid}")
        expect(all(int(t) == p.tests for t in pdf["test_size"]), f"test_size of {pid}")

    def check_consensus(self, pid: str, pdf) -> None:
        top = self.corpus.problems[pid].clusters()[0]
        expect(len(pdf) == 1 and (tuple(pdf["equivalent_commits_cluster"][0]),
                                  int(pdf["cluster_size"][0])) == top,
               f"consensus of {pid}")

    def check_join(self, pid: str, pdf) -> None:
        p = self.corpus.problems[pid]
        expect(len(pdf) == p.rows, f"join rows of {pid}: {len(pdf)} != {p.rows}")
        src = dict(zip(pdf["implementation_id"], pdf["program_code"]))
        want = {gen.impl_id(s): gen.impl_src(s, c) for s, c in p.members.items()}
        expect(src == want, f"join program_code of {pid}")

    def check_mv_serve(self, pid: str, res) -> None:
        srm, clusters, joined = res
        p = self.corpus.problems[pid]
        cells = p.srm_cells()
        expect(len(srm) == len(cells), f"served srm rows of {pid}")
        for t, s, outputs in zip(srm["test_id"], srm["step_id"], srm["outputs"]):
            expect(dict(outputs) == cells[(t, int(s))], f"served srm cell {pid} {t} {s}")
        self.check_clusters(pid, clusters, ordered=False)
        expect(len(joined) == p.rows, f"served join rows of {pid}")

    # -- operations: the whole corpus ---------------------------------------------

    def corpus_srm(self):
        obs = self.table("observations")
        with self.span("operators.srm.build"):
            df = srm_output_map(obs)
        return self.sink("operators.srm", df, F.count(F.lit(1)).alias("rows"),
                         F.sum(F.size("outputs")).alias("cells"))

    def corpus_clustering(self):
        obs = self.table("observations")
        with self.span("operators.clustering.build"):
            df = behavioral_clustering(obs)
        return self.sink("operators.clustering", df, F.count(F.lit(1)).alias("rows"),
                         F.sum("cluster_size").alias("members"),
                         F.sum("test_size").alias("tests"))

    def corpus_consensus(self):
        obs = self.table("observations")
        with self.span("operators.consensus.build"):
            df = consensus_oracle(obs)
        return self.fetch("operators.consensus", df)

    def corpus_join(self):
        obs, code, tests = (self.table(t) for t in TABLES)
        with self.span("operators.join.build"):
            df = three_way_join(obs, code, tests)
        return self.sink("operators.join", df, F.count(F.lit(1)).alias("rows"),
                         F.sum(F.length("program_code")).alias("code_chars"))

    def mv_build(self):
        self.build_mvs()

    def check_corpus(self, kind: str, got) -> None:
        ps = list(self.corpus.problems.values())
        if kind == "srm":
            # srm_output_map without a problem keys rows by (test_id, step_id)
            # only, so problems that share a test id share its rows
            want = {"rows": len({(t, s) for p in ps for t in range(p.tests)
                                 for s in range(p.steps)}),
                    "cells": sum(p.rows for p in ps)}
        elif kind == "clustering":
            want = {"rows": sum(len(p.clusters()) for p in ps),
                    "members": sum(len(p.members) for p in ps),
                    "tests": sum(len(p.clusters()) * p.tests for p in ps)}
        elif kind == "join":
            want = {"rows": sum(p.rows for p in ps),
                    "code_chars": sum(p.tests * p.steps * len(gen.impl_src(s, c))
                                      for p in ps for s, c in p.members.items())}
        elif kind == "consensus":
            top = min((c for p in ps for c in p.clusters()), key=lambda x: (-x[1], x[0]))
            expect(len(got) == 1 and (tuple(got["equivalent_commits_cluster"][0]),
                                      int(got["cluster_size"][0])) == top,
                   "corpus consensus")
            return
        else:  # mv_build
            self.check_mv_layout()
            return
        expect({k: int(v) for k, v in got.items()} == want, f"corpus {kind}: {got} != {want}")


def _manifest(table) -> dict:
    """The table's head snapshot manifest, read from disk."""
    return json.loads(
        (table.manifest_dir / f"v{table.latest_version()}.json").read_text()
    )


def _parquet_rows(data_dir: Path, files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(data_dir / f).metadata.num_rows for f in files)

"""Seeded input generator for the benchmark: pyarrow and the stdlib only.

The program reads only the files written here: one LASSO arena export of
the whole corpus, i.e. cell-level Parquet (the sheet layout that
``ingest.arena.reshape_observations`` / ``reshape_tests`` consume) plus the
Solr JSON export of every implementation (``reshape_code_implementations``).

The generator keeps the planted truth of every problem, so every result the
benchmark reads can be checked without asking the program:

- each implementation belongs to a behaviour class; implementations of one
  class answer every (test, step) alike, and every class other than 0
  differs from class 0 on its own set of tests, so the clusters are exactly
  the classes;
- class 0 is planted as the strict majority, so the consensus is known;
- per-problem sizes vary around the HumanEval study's ~26 implementations
  and ~650 SRM rows (tests x steps) per problem (:func:`shape`);
- problem popularity is Zipf-distributed, for the lookup workload.

The same seed gives the same files and the same truth.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

DATA_SET = "HumanEval"
RUN_ID = "run-1"
ENV_ID = "arena-1"
CREATED_AT = dt.datetime(2026, 1, 1)
ZIPF_S = 1.1

CELL_SCHEMA = pa.schema(
    [
        ("EXECUTIONID", pa.string()), ("ABSTRACTIONID", pa.string()),
        ("SYSTEMID", pa.string()), ("VARIANTID", pa.string()),
        ("ADAPTERID", pa.string()), ("SHEETID", pa.string()),
        ("ARENAID", pa.string()), ("X", pa.int32()), ("Y", pa.int32()),
        ("TYPE", pa.string()), ("VALUE", pa.string()), ("EXECUTIONTIME", pa.float64()),
    ]
)


def impl_id(system: str) -> str:
    """The id both reshapes mint for a system: ``SYSTEMID_original_0``."""
    return f"{system}_original_0"


def impl_src(system: str, cls: int) -> str:
    return f"class {system} {{ long f(long x) {{ return x + {cls}; }} }}"


def test_id(t: int) -> str:
    return f"t_{t:03d}()"


def output(t: int, s: int, cls: int, div: frozenset[int]) -> str:
    return f"r{t}.{s}~c{cls}" if t in div else f"r{t}.{s}"


def exec_ms(s: int) -> float:
    return 0.5 * (s + 1)


@dataclass
class Problem:
    """Planted truth of one problem."""

    pid: str
    tests: int
    steps: int
    div: dict[int, frozenset[int]]  # class -> tests on which it diverges
    members: dict[str, int] = field(default_factory=dict)  # system -> class

    @property
    def rows(self) -> int:
        return len(self.members) * self.tests * self.steps

    def impl_ids(self) -> list[str]:
        return sorted(impl_id(s) for s in self.members)

    def clusters(self) -> list[tuple[tuple[str, ...], int]]:
        """(sorted members, size), largest first, ties by member list: the
        order ``behavioral_clustering`` promises."""
        by_cls: dict[int, list[str]] = {}
        for system, c in self.members.items():
            by_cls.setdefault(c, []).append(impl_id(system))
        return sorted(
            ((tuple(sorted(m)), len(m)) for m in by_cls.values()),
            key=lambda x: (-x[1], x[0]),
        )

    def srm_cells(self) -> dict[tuple[str, int], dict[str, str]]:
        """(test_id, step_id) -> {implementation_id: output}."""
        cols = {impl_id(s): (c, self.div[c]) for s, c in self.members.items()}
        return {
            (test_id(t), s): {i: output(t, s, c, d) for i, (c, d) in cols.items()}
            for t in range(self.tests)
            for s in range(self.steps)
        }

    def total_exec_ms(self) -> float:
        return len(self.members) * self.tests * sum(exec_ms(s) for s in range(self.steps))


def shape(rank: int) -> tuple[int, int, int]:
    """(SRM rows, implementations, steps) of the problem with popularity
    ``rank`` (0 = most popular): the HumanEval study's ~650 rows and ~26
    implementations at rank 0, spreading both ways as ranks fall. The shape
    of each rank is fixed, so every seed asks for the same amount of work;
    the seed decides which problem holds which rank and everything inside."""
    off = (rank + 1) // 2 * (1 if rank % 2 else -1)
    return round(650 * (1 + 0.12 * off)), 26 - 2 * off, 6 + rank * 3 % 5


def zipf_quota(n: int, ranks: int) -> list[int]:
    """``n`` draws split over ``ranks`` in Zipf proportion (largest
    remainder): the same multiset of ranks for every seed."""
    w = [1.0 / (r + 1) ** ZIPF_S for r in range(ranks)]
    q = [n * x / sum(w) for x in w]
    counts = [int(x) for x in q]
    by_rest = sorted(range(ranks), key=lambda r: (counts[r] - q[r], r))
    for r in by_rest[: n - sum(counts)]:
        counts[r] += 1
    return [r for r in range(ranks) for _ in range(counts[r])]


class Corpus:
    """Planted truth of ``n_problems`` problems, and the export writer."""

    def __init__(self, seed: int, n_problems: int) -> None:
        self.rng = rng = random.Random(seed)
        self.problems: dict[str, Problem] = {}
        ranks = list(range(n_problems))
        rng.shuffle(ranks)
        self.by_rank = [""] * n_problems
        n_system = 0
        for k, rank in enumerate(ranks):
            srm_rows, n_impls, steps = shape(rank)
            tests = round(srm_rows / steps)
            n_cls = rng.randint(2, 5)
            div = {0: frozenset()}
            for c in range(1, n_cls):
                div[c] = frozenset(rng.sample(range(tests), rng.randint(1, 4)))
            p = Problem(f"HumanEval_{k:03d}", tests, steps, div)
            self.by_rank[rank] = p.pid
            majority = n_impls // 2 + 1
            for i in range(n_impls):
                n_system += 1
                p.members[f"sys{n_system:05d}"] = (
                    0 if i < majority else rng.randint(1, n_cls - 1)
                )
            self.problems[p.pid] = p

    def draws(self, n: int) -> list[str]:
        """``n`` Zipf-popular problem ids in seeded order."""
        ranks = zipf_quota(n, len(self.by_rank))
        self.rng.shuffle(ranks)
        return [self.by_rank[r] for r in ranks]

    def write_export(self, out: Path) -> dict[str, int]:
        """The arena export of every problem: ``cells.parquet`` and
        ``solr.json``. Returns its rows and bytes."""
        out.mkdir(parents=True, exist_ok=True)
        cells: dict[str, list] = {f.name: [] for f in CELL_SCHEMA}
        docs = []
        for p in self.problems.values():
            _problem_cells(cells, p)
            for system, c in sorted(p.members.items()):
                docs.append(
                    {
                        "id": system,
                        "abstractionId": [p.pid],
                        "lang": "Java",
                        "content": impl_src(system, c),
                        "m_static_loc_td": [3 + c],
                        "m_static_complexity_td": [1 + c],
                    }
                )
        cell_path = out / "cells.parquet"
        pq.write_table(pa.table(cells, schema=CELL_SCHEMA), cell_path)
        solr_path = out / "solr.json"
        solr_path.write_text(json.dumps({"response": {"docs": docs}}))
        return {
            "cells": len(cells["X"]),
            "observations": sum(p.rows for p in self.problems.values()),
            "implementations": len(docs),
            "bytes": cell_path.stat().st_size + solr_path.stat().st_size,
        }


def _problem_cells(cells: dict[str, list], p: Problem) -> None:
    """Two metadata cells per sheet, then three cells (input, op, value) per
    (implementation, test, step). Columns that only depend on the sheet
    position are built once per problem and repeated per implementation."""
    meta = 2 * p.tests
    for t in range(p.tests):
        for typ, x, value in (("stimulussheet", 0, f'{{"sheet": "{p.pid}/{t}"}}'),
                              ("interface", 1, f"{p.pid} {{ long f(long) }}")):
            cells["SHEETID"].append(test_id(t))
            cells["X"].append(x)
            cells["TYPE"].append(typ)
            cells["VALUE"].append(value)
    cells["Y"].extend([-1] * meta)
    cells["EXECUTIONTIME"].extend([None] * meta)
    cells["SYSTEMID"].extend(["abstraction"] * meta)
    cells["VARIANTID"].extend([""] * meta)

    sheet, xs, ys, types, times = [], [], [], [], []
    for t in range(p.tests):
        for s in range(p.steps):
            sheet += [test_id(t)] * 3
            xs += [0, 1, 2]
            ys += [s] * 3
            types += ["input_value", "op", "value"]
            times += [exec_ms(s)] * 3
    values = {}
    for c, d in p.div.items():
        values[c] = [
            v
            for t in range(p.tests)
            for s in range(p.steps)
            for v in (f"in{s}", "op()", output(t, s, c, d))
        ]
    n = 3 * p.tests * p.steps
    for system, c in sorted(p.members.items()):
        cells["SHEETID"].extend(sheet)
        cells["X"].extend(xs)
        cells["Y"].extend(ys)
        cells["TYPE"].extend(types)
        cells["VALUE"].extend(values[c])
        cells["EXECUTIONTIME"].extend(times)
        cells["SYSTEMID"].extend([system] * n)
        cells["VARIANTID"].extend(["original"] * n)
    total = meta + n * len(p.members)
    cells["ABSTRACTIONID"].extend([p.pid] * total)
    cells["EXECUTIONID"].extend([RUN_ID] * total)
    cells["ADAPTERID"].extend(["0"] * total)
    cells["ARENAID"].extend([ENV_ID] * total)

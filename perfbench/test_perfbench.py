"""The benchmark's own tests: seed determinism and a small-scale smoke run
of every workload.

    python -m pytest perfbench/test_perfbench.py -q

The stream tests need only DuckDB. The others start one Spark process per
run (``run.py --sf 0.002 --seconds 0``: one cycle of each workload) and
take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import asof_workloads as aw  # noqa: E402
from perfbench.data import ensure_tables  # noqa: E402

#: the smallest scale at which every suite spec has a non-empty answer
#: (dbgen's sf0.001 leaves q5_region_revenue empty, which the oracle rejects)
SMOKE_SF = 0.002


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def universe():
    return aw.Universe.load(ensure_tables(os.path.join(ROOT, ".perfbench_work"), SMOKE_SF))


def _stream(seed: int, uni) -> list:
    gen = aw.QueryGen(random.Random(seed), uni)
    out = [gen.serving_cycle() for _ in range(3)]
    revs = gen.revisions(uni.max_ts + 1)
    out.append(revs)
    out.append([gen.revised_read(revs, revs[-1][2]) for _ in range(5)])
    return out


def test_same_seed_same_operation_stream(universe):
    assert _stream(7, universe) == _stream(7, universe)
    assert _stream(7, universe) != _stream(8, universe)


def test_revisions_revise_existing_keys_with_later_ts(universe):
    gen = aw.QueryGen(random.Random(3), universe)
    revs = gen.revisions(universe.max_ts + 1)
    assert all(ts > universe.max_ts for _a, _d, ts, _v in revs)
    assert len({ts for _a, _d, ts, _v in revs}) == len(revs)
    for a, d, _ts, _v in revs:
        assert d in universe.dates_by_asset[aw.base_asset(a)]


_RUNS: dict = {}


def _run(workload: str, trace: int, seed: int = 5, tag: str = "") -> tuple[dict, dict]:
    """(report, result) of one small run, cached per arguments."""
    key = (workload, trace, seed, tag)
    if key not in _RUNS:
        out = subprocess.run(
            [
                sys.executable,
                os.path.join(ROOT, "perfbench", "run.py"),
                "--workload", workload,
                "--seed", str(seed),
                "--seconds", "0",
                "--trace", str(trace),
                "--sf", str(SMOKE_SF),
            ],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        lines = out.stdout.strip().splitlines()
        _RUNS[key] = (json.loads(lines[-2])["report"], json.loads(lines[-1]))
    return _RUNS[key]


@pytest.mark.parametrize("workload", [w["name"] for w in _benchmark_json()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_named_metric(workload, trace):
    report, result = _run(workload, trace)
    spec = _benchmark_json()["per_layer" if trace else "end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
    for name, v in report.items():
        if isinstance(v, dict) and "value" in v:
            assert v["unit"], name


def test_revision_ingest_smoke():
    report, result = _run("revision_ingest", 0)
    assert result["correct"] and result["failed"] == 0
    for name in ("commit_p50_s", "compact_p50_s", "read_p50_s", "bytes_written_per_user_byte", "space_per_user_byte"):
        assert report[name]["value"] > 0, name


@pytest.mark.parametrize("workload", ["asof_serving", "revision_ingest"])
def test_same_seed_same_counts(workload):
    a, _ = _run(workload, 1)
    b, _ = _run(workload, 1, tag="again")
    assert a["op_counts"] == b["op_counts"]
    for name, v in a["layers"].items():
        if name.endswith((".jobs", ".tasks", ".files_scanned", "rows_scanned_per_row_returned")):
            assert v == b["layers"][name], name
    if workload == "revision_ingest":
        assert a["bytes_written_per_user_byte"] == b["bytes_written_per_user_byte"]


def test_refuses_to_run_without_the_engine():
    """A directory holding only the benchmark: exit non-zero, print no result."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "asof_serving", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare,
        capture_output=True,
        text=True,
        timeout=120,
    )
    shutil.rmtree(bare)
    assert out.returncode != 0
    assert out.stdout == ""


def test_host_clock_takes_out_stolen_time():
    from perfbench.harness import Mark, host_s, steal_share

    a = Mark(10.0, busy=1000, steal=500)
    # 2 s of wall; the CPUs ran 300 ticks and the host stole 100 more
    b = Mark(12.0, busy=1300, steal=600)
    assert steal_share(a, b) == 0.25
    assert host_s(a, b) == 1.5
    assert host_s(a, b, untimed_s=1.0) == 0.75
    # no steal accounted: the wall clock
    assert host_s(a, Mark(12.0, busy=1300, steal=500)) == 2.0


def test_serving_cycle_asks_each_width_equally(universe):
    from collections import Counter

    gen = aw.QueryGen(random.Random(11), universe)
    for _ in range(3):
        cycle = gen.serving_cycle()
        assert Counter(k for k, _q in cycle) == Counter(aw.SERVING_MIX)
        widths = Counter(
            (aw._date(q[2]) - aw._date(q[1])).days + 1 for k, q in cycle if k == "range"
        )
        assert widths == Counter({w: 3 for w in aw.RANGE_WIDTHS})

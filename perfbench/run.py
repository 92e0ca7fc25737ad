#!/usr/bin/env python3
"""findb_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload asof_serving --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is the result object
(``correct``, ``attempted``, ``failed``, ``metrics``): the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is the full report: the per-operation
metrics named in README.md with their sample counts, the machine, and in a
traced run the per-layer figures of every layer. A traced run also writes
its spans to ``.perfbench_work/trace/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("asof_serving", "analytics_suite", "revision_ingest")
#: default scale of the generated tables: sf0.01 lineitem (60 k rows, x8
#: replicas for the prices table) and sf0.01 analytics inputs
DATA_SF = 0.01


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--sf", type=float, default=DATA_SF, help="scale of the generated tables (smoke tests)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    wall0 = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "findb_spark", "__init__.py")):
        print(f"perfbench: no findb_spark package in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    work = os.path.join(ROOT, harness.WORK_DIRNAME)
    run_dir = os.path.join(work, "runs", f"{args.workload}-{os.getpid()}")
    try:
        harness.pin_machine(run_dir)
        return _measure(args, work, run_dir, wall0)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure(args, work: str, run_dir: str, wall0: float) -> int:
    from perfbench import harness
    from perfbench.data import ensure_tables

    machine = harness.machine_info(ROOT)
    data_dir = ensure_tables(work, args.sf)
    trace = bool(args.trace)
    phases = {"prepare_s": time.perf_counter() - wall0}
    start = harness.mark()
    spark = harness.start_session(run_dir, trace)
    session_start_s = time.perf_counter() - start.t
    try:
        log = harness.OpLog(spark, trace)
        out = _run_workload(args, log, spark, data_dir, run_dir)
        table_files, table_bytes = harness.dir_stats(out.get("table_path") or data_dir)
        phases["workload_s"] = time.perf_counter() - start.t - session_start_s
    finally:
        t1 = time.perf_counter()
        harness.stop_session(spark)
        phases["stop_s"] = time.perf_counter() - t1
    machine["loadavg_after"] = list(os.getloadavg())
    machine["steal_s_after"] = harness.steal_s()

    ops = log.done()
    setup_end = out["setup"].pop("end")
    setup_untimed_s = out["setup"].get("untimed_s", 0.0)
    setup_s = harness.host_s(start, setup_end, setup_untimed_s)
    # warm-up operations are checked too, and count like the timed ones
    failed = log.failed() + out["setup"].get("warm_failed", 0)
    attempted = len(log.ops) + out["setup"].get("warm_ops", 0)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "machine": machine,
        "data_sf": args.sf,
        "setup": {"session_start_s": session_start_s, **out["setup"]},
        "phases": phases,
        "cycles_s": log.cycles,
        "samples": {"op_p50_s": len(ops), "cycle_s": len(log.cycles)},
        # the result's figures on the wall clock, and the host's steal
        "wall": {
            "setup_s": setup_end.t - start.t - setup_untimed_s,
            "op_p50_s": harness.op_p50(ops, "wall_s"),
            "cycle_s": statistics.median(log.cycles_wall) if log.cycles_wall else None,
            "cycles_s": log.cycles_wall,
        },
        "steal_share": {
            "setup": harness.steal_share(start, setup_end),
            "cycles": log.cycles_steal,
        },
        # driver JVM GC and JIT compile seconds per timed cycle
        "jvm_cycles_s": [{"gc": gc, "jit": jit} for gc, jit in log.cycles_jvm],
        "ops_failed_frac": harness.metric(failed / max(1, attempted), "ratio"),
        "failures": [f"{o.kind}#{o.seq}: {o.error or 'wrong answer'}" for o in log.ops if o.error or o.ok is False][:20],
        **out["detail"],
    }
    if out.get("problems"):
        report["problems"] = out["problems"]
    if trace:
        per_layer = harness.generic_per_layer(log, session_start_s, table_files, table_bytes)
        report["layers"] = _layer_report(args.workload, log, out, session_start_s)
        report["op_counts"] = [
            [o.kind, *(o.counters.get(k) for k in ("jobs", "tasks", "files_scanned", "rows_scanned"))]
            for o in log.ops
        ]
        spans_path = os.path.join(work, "trace", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            json.dump(log.tracer.spans, f)
        report["spans"] = os.path.relpath(spans_path, ROOT)
        metrics = per_layer
    else:
        metrics = {
            "setup_s": harness.metric(setup_s, "s"),
            "op_p50_s": harness.metric(harness.op_p50(ops), "s"),
            "cycle_s": harness.metric(statistics.median(log.cycles), "s"),
        }
    result = {
        "correct": failed == 0 and all(o.ok is not None for o in log.ops),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


def _run_workload(args, log, spark, data_dir: str, run_dir: str) -> dict:
    if args.workload == "analytics_suite":
        from perfbench.suite import run_analytics_suite

        return run_analytics_suite(log, spark, data_dir, args.seconds)
    from perfbench import asof_workloads

    run = (
        asof_workloads.run_asof_serving
        if args.workload == "asof_serving"
        else asof_workloads.run_revision_ingest
    )
    return run(log, spark, data_dir, run_dir, args.seed, args.seconds)


def _layer_report(workload: str, log, out: dict, session_start_s: float) -> dict:
    """The per-layer figures named in README.md for this workload."""
    from perfbench.harness import mean_or_none, median_or_none, metric

    spans = log.tracer.self_times()

    def span_median(name: str):
        return metric(median_or_none(spans.get(name, [])), "s")

    def per_kind(kind: str) -> list:
        return log.done((kind,))

    def counter_mean(ops, key):
        return mean_or_none([o.counters.get(key) for o in ops])

    def scan(prefix: str, ops) -> dict:
        sc = [o for o in ops if "rows_scanned" in o.counters]
        rows_out = sum(o.rows or 0 for o in sc)
        return {
            f"{prefix}.files_scanned": metric(counter_mean(sc, "files_scanned"), "count"),
            f"{prefix}.bytes_scanned": metric(counter_mean(sc, "bytes_scanned"), "B"),
            f"{prefix}.rows_scanned_per_row_returned": metric(
                sum(o.counters["rows_scanned"] for o in sc) / max(1, rows_out), "ratio"
            ),
        }

    def asof_kind(kind: str) -> dict:
        ops = per_kind(kind)
        return {
            f"asof.{kind}.build_s": span_median(f"asof.{kind}.build"),
            f"asof.{kind}.exec_s": span_median(f"exec.{kind}"),
            f"asof.{kind}.jobs": metric(counter_mean(ops, "jobs"), "count"),
            f"asof.{kind}.tasks": metric(counter_mean(ops, "tasks"), "count"),
        }

    layers = {"session.start_s": metric(session_start_s, "s")}
    if workload == "analytics_suite":
        from perfbench.suite import SUITE_SPECS

        passes = max(1, len(log.cycles))
        totals = {"build_s": 0.0, "run_s": 0.0, "exec_cpu_s": 0.0, "gc_s": 0.0, "tasks": 0}
        for name in SUITE_SPECS:
            ops = per_kind(name)
            b = [o.build_s for o in ops]
            r = [o.exec_s for o in ops]
            layers[f"suite.{name}.build_s"] = metric(median_or_none(b), "s")
            layers[f"suite.{name}.run_s"] = metric(median_or_none(r), "s")
            layers[f"suite.{name}.exec_cpu_s"] = metric(counter_mean(ops, "exec_cpu_s"), "s")
            totals["build_s"] += sum(b) / passes
            totals["run_s"] += sum(r) / passes
            for key in ("exec_cpu_s", "gc_s", "tasks"):
                totals[key] += sum(o.counters.get(key) or 0 for o in ops) / passes
        for key, v in totals.items():
            layers[f"suite.{key}"] = metric(v, "count" if key == "tasks" else "s")
        layers.update(scan("suite", log.done()))
        return layers
    setup = out["setup"]
    layers.update(
        {
            "session.local_relation_s": span_median("session.local_relation"),
            "prices.prices_from_lineitem_s": span_median("prices.prices_from_lineitem"),
            "layout.load_s": metric(setup["load_s"], "s"),
            "layout.files": metric(setup["files"], "count"),
            "layout.table_bytes": metric(setup["bytes"], "B"),
        }
    )
    if workload == "asof_serving":
        layers.update(scan("layout.range", per_kind("range")))
        for kind in ("range", "point", "batch"):
            layers.update(asof_kind(kind))
        return layers
    lay = out["layout"]
    layers.update(scan("layout.read", per_kind("read")))
    layers.update(asof_kind("read"))
    layers.update(
        {
            "layout.read_prices_s": span_median("layout.read_prices"),
            "layout.append_s": span_median("layout.append"),
            "layout.compact_s": span_median("layout.compact"),
            "layout.compact_bytes_rewritten": metric(
                lay["compact_bytes"] / max(1, len(per_kind("compact"))), "B"
            ),
            "layout.files_before_compact": metric(median_or_none(lay["files_before_compact"]), "count"),
            "layout.final_files": metric(lay["final_files"], "count"),
            "layout.final_bytes": metric(lay["final_bytes"], "B"),
        }
    )
    return layers


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — a crashed run prints no result line
        traceback.print_exc()
        sys.exit(1)

"""``analytics_suite``: registered analytics specs, built and run to a
noop sink, as ``bench.py`` does, over the benchmark's generated tables.

A cold pass of all 27 ``bench=True`` specs takes about 90 s on a 4-core
box and a warm one about 18 s, which does not fit the benchmark's run
budget with several timed passes, so the suite runs ``SUITE_SPECS``: one
spec per operator family, 3.5–4.5 s per warm pass (README.md lists them
and why).

Set-up is the check pass, then ``WARM_PASSES`` untimed noop-sink passes.
The check pass runs each spec through ``oracle.compare_query`` against its
registered SQL, which also fills codegen caches and the engine's memos; its
Spark-side time (minus the DuckDB oracle's) and the warm passes make up the
workload's part of ``setup_s``.
"""

from __future__ import annotations

import statistics
import time

from perfbench.harness import OpLog, Step, mark, metric

SUITE_SPECS = (
    "asof_join_shifted",
    "q5_region_revenue",
    "events_sessionize",
    "dedup_ngram_jaccard",
    "vec_cosine_topk",
    "ts_rolling_beta",
)
#: untimed noop-sink passes after the check pass. The JIT keeps compiling
#: for many passes, and its threads share the four cores with the tasks:
#: on a 4-core box they took 14, 10, 6, 3.5 and then 2-4 seconds in the
#: passes after the check pass, which took 3.9 s for the third and about
#: 3.5 s from the fourth on
WARM_PASSES = 3


class _TimedDuck:
    """DuckDB connection proxy for ``compare_query`` that runs each oracle
    query to completion and keeps its time, so the check's Spark side can
    be told apart from the oracle's."""

    def __init__(self, con) -> None:
        self.con = con
        self.seconds = 0.0
        self.rows = 0

    def execute(self, sql: str):
        t0 = time.perf_counter()
        cur = self.con.execute(sql)
        rows = cur.fetchall()
        self.seconds += time.perf_counter() - t0
        self.rows = len(rows)
        return _Fetched(cur.description, rows)


class _Fetched:
    def __init__(self, description, rows) -> None:
        self.description = description
        self._rows = rows

    def fetchall(self):
        return self._rows


def selected_specs():
    from findb_spark.registry import registration_order_specs

    specs = registration_order_specs()
    missing = [n for n in SUITE_SPECS if n not in specs or not specs[n].bench]
    if missing:
        raise RuntimeError(f"suite specs not registered as bench specs: {missing}")
    return [specs[n] for n in specs if n in SUITE_SPECS]


def check_pass(log: OpLog, spark, data_dir: str) -> tuple[float, float, dict[str, list[str]], dict[str, int]]:
    """The warm pass. Returns (Spark-side seconds, oracle seconds,
    problems per spec, rows per spec)."""
    from findb_spark import oracle

    duck = _TimedDuck(oracle.duck_connection(data_dir))
    problems: dict[str, list[str]] = {}
    rows: dict[str, int] = {}
    t0 = time.perf_counter()
    try:
        for spec in selected_specs():
            duck.rows = 0
            with log.span(f"check.{spec.name}"):
                try:
                    problems[spec.name] = oracle.compare_query(
                        spark, duck, spec.fn, spec.sql, data_dir, spec.name
                    )
                except Exception as e:  # noqa: BLE001 — a failing spec is counted, not fatal
                    problems[spec.name] = [f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"]
            rows[spec.name] = duck.rows
    finally:
        duck.con.close()
    return time.perf_counter() - t0 - duck.seconds, duck.seconds, problems, rows


def _suite_pass(log: OpLog, spark, data_dir: str, specs, problems: dict, rows: dict) -> None:
    for spec in specs:
        op = log.run(
            spec.name,
            [
                Step(f"queries.{spec.name}.build", "build", lambda spec=spec: spec.fn(spark, data_dir)),
                Step(
                    f"exec.{spec.name}",
                    "exec",
                    lambda df: df.write.format("noop").mode("overwrite").save(),
                ),
            ],
        )
        op.ok = not problems[spec.name]
        op.rows = rows[spec.name]


def run_analytics_suite(log: OpLog, spark, data_dir: str, seconds: float) -> dict:
    check_s, oracle_s, problems, rows = check_pass(log, spark, data_dir)
    specs = selected_specs()
    t0 = time.perf_counter()
    warm = OpLog(spark, trace=False)
    for _ in range(WARM_PASSES):
        _suite_pass(warm, spark, data_dir, specs, problems, rows)
    end = mark()
    warm_s = check_s + end.t - t0
    log.open_window(seconds)
    while log.another_cycle():
        log.begin_cycle()
        _suite_pass(log, spark, data_dir, specs, problems, rows)
        log.end_cycle()
    failing = {n: p for n, p in problems.items() if p}
    return {
        "setup": {"load_warm_s": warm_s, "check_s": check_s, "end": end, "untimed_s": oracle_s, "warm_ops": len(warm.ops), "warm_failed": warm.failed()},
        "detail": {
            "suite_wall_s": metric(statistics.median(log.cycles), "s"),
            "suite_passes": metric(len(log.cycles), "count"),
            "suite_specs": metric(len(specs), "count"),
            **{
                f"suite.{spec.name}_s": metric(
                    statistics.median(o.latency_s for o in log.done((spec.name,))), "s"
                )
                for spec in specs
                if log.done((spec.name,))
            },
        },
        "problems": failing,
    }

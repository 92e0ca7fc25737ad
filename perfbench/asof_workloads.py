"""The two workloads over a bulk-loaded prices table: ``asof_serving``
(the paper's read traffic) and ``revision_ingest`` (revisions appended
beside reads, with periodic compaction).

Both start from ``prices.prices_from_lineitem`` replicated ``REPLICAS``
times, with ``asset_id`` shifted by ``ASSET_STRIDE`` per copy, bulk-loaded
with ``layout.write_prices``. Every answer is checked after the timed
window against a DuckDB ``ROW_NUMBER() ... ORDER BY ts DESC, value DESC``
oracle over the same ``lineitem`` file, plus the revisions committed
before the read.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time
from dataclasses import dataclass
from functools import reduce

from perfbench.harness import OpLog, Step, dir_stats, mark, metric, table_files

REPLICAS = 8
ASSET_STRIDE = 20_000
#: untimed serving cycles between the bulk load and the timed loop
WARM_CYCLES = 5
#: logical width of one price row: asset_id (8 B), date (4 B), ts (8 B), value (8 B)
USER_ROW_BYTES = 28
#: range widths in days: a month, a year, five years
RANGE_WIDTHS = (31, 366, 5 * 366)
#: asof_serving's closed loop repeats this mix, shuffled per cycle; the
#: ranges take each width of RANGE_WIDTHS equally often, so every cycle
#: (and every seed) asks the same amount of work
SERVING_MIX = ("range",) * (3 * len(RANGE_WIDTHS)) + ("point",) * 2 + ("batch",)
BATCH_QUERIES = 100
#: revision_ingest: commits per compaction, reads per commit, rows per commit
COMMITS_PER_COMPACT = 4
READS_PER_COMMIT = 2
REVISION_ASSETS = 10
REVISION_DATES = 10

QUERY_SCHEMA = "query_id INT, asset_id BIGINT, start_date INT, end_date INT, asof_ts BIGINT"


def base_asset(a: int) -> int:
    """The lineitem part key a replicated asset id was copied from."""
    return a - ASSET_STRIDE * ((a - 1) // ASSET_STRIDE)


def _ymd(d: dt.date) -> int:
    return d.year * 10000 + d.month * 100 + d.day


def _date(ymd: int) -> dt.date:
    return dt.date(ymd // 10000, ymd // 100 % 100, ymd % 100)


def _epoch(d: dt.date) -> int:
    return int(dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc).timestamp())


@dataclass(frozen=True)
class Universe:
    """What the query generator may ask about: the base table's keys."""

    dates_by_asset: dict[int, tuple[int, ...]]
    assets: tuple[int, ...]
    min_date: dt.date
    max_date: dt.date
    max_ts: int
    rows: int

    @classmethod
    def load(cls, data_dir: str) -> "Universe":
        import duckdb

        from findb_spark.prices import PRICES_ORACLE_CTE

        con = duckdb.connect()
        try:
            _lineitem_view(con, data_dir)
            keys = con.execute(
                f"WITH {PRICES_ORACLE_CTE} SELECT DISTINCT asset_id, date FROM prices_v ORDER BY 1, 2"
            ).fetchall()
            lo, hi, max_ts, rows = con.execute(
                f"WITH {PRICES_ORACLE_CTE} SELECT min(date), max(date), max(ts), count(*) FROM prices_v"
            ).fetchone()
        finally:
            con.close()
        by_asset: dict[int, list[int]] = {}
        for a, d in keys:
            by_asset.setdefault(a, []).append(d)
        return cls(
            dates_by_asset={a: tuple(ds) for a, ds in by_asset.items()},
            assets=tuple(sorted(by_asset)),
            min_date=_date(lo),
            max_date=_date(hi),
            max_ts=max_ts,
            rows=rows,
        )


def _lineitem_view(con, data_dir: str) -> None:
    path = os.path.join(data_dir, "lineitem.parquet")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")


# -- query generation (pure, seeded) ------------------------------------------


class QueryGen:
    """Seeded generator of as-of questions; the engine sees only its output."""

    def __init__(self, rng: random.Random, uni: Universe) -> None:
        self.rng = rng
        self.uni = uni

    def asset(self) -> int:
        return self.rng.choice(self.uni.assets) + ASSET_STRIDE * self.rng.randrange(REPLICAS)

    def range_around(self, asset: int, anchor: dt.date | None, latest_ts: int, width: int | None = None) -> tuple:
        """(asset, start, end, asof_ts), ``width`` days wide (by default
        one of RANGE_WIDTHS). Half the questions ask with the latest
        knowledge, half with a cut inside the range."""
        rng, uni = self.rng, self.uni
        width = width or rng.choice(RANGE_WIDTHS)
        span = (uni.max_date - uni.min_date).days
        if anchor is None:
            start = uni.min_date + dt.timedelta(days=rng.randrange(max(1, span - width)))
        else:
            start = max(uni.min_date, anchor - dt.timedelta(days=rng.randrange(width)))
        end = min(uni.max_date, start + dt.timedelta(days=width - 1))
        if rng.random() < 0.5:
            asof_ts = latest_ts
        else:
            cut = start + dt.timedelta(days=rng.randrange((end - start).days + 1))
            asof_ts = _epoch(cut) + rng.randint(1, 7)
        return (asset, _ymd(start), _ymd(end), asof_ts)

    def range_query(self, width: int | None = None) -> tuple:
        return self.range_around(self.asset(), None, self.uni.max_ts, width)

    def point_query(self) -> tuple:
        """An existing (asset, date) key; the cut, when there is one, falls
        between that day's line numbers."""
        a = self.asset()
        d = self.rng.choice(self.uni.dates_by_asset[base_asset(a)])
        asof_ts = self.uni.max_ts if self.rng.random() < 0.5 else _epoch(_date(d)) + self.rng.randint(1, 7)
        return (a, d, d, asof_ts)

    def serving_cycle(self) -> list[tuple]:
        """One cycle of asof_serving: ``SERVING_MIX`` in seeded order."""
        kinds = list(SERVING_MIX)
        self.rng.shuffle(kinds)
        widths = list(RANGE_WIDTHS) * (kinds.count("range") // len(RANGE_WIDTHS))
        self.rng.shuffle(widths)
        out = []
        for k in kinds:
            if k == "range":
                out.append(("range", self.range_query(widths.pop())))
            elif k == "point":
                out.append(("point", self.point_query()))
            else:
                out.append(("batch", [self.range_query() for _ in range(BATCH_QUERIES)]))
        return out

    def revisions(self, first_ts: int) -> list[tuple]:
        """(asset_id, date, ts, value) rows revising existing keys of a few
        assets, each ts later than any stored ts."""
        rows = []
        for _ in range(REVISION_ASSETS):
            a = self.asset()
            dates = self.uni.dates_by_asset[base_asset(a)]
            for d in self.rng.sample(dates, min(REVISION_DATES, len(dates))):
                rows.append((a, d, first_ts + len(rows), round(self.rng.uniform(1.0, 100_000.0), 2)))
        return rows

    def revised_read(self, revs: list[tuple], latest_ts: int) -> tuple:
        """A range over a just-revised key, asked either after the revision
        (latest knowledge) or just before it (must see the old value); one
        read in four goes to a random asset instead."""
        if self.rng.random() < 0.25:
            return self.range_around(self.asset(), None, latest_ts)
        a, d, ts, _v = self.rng.choice(revs)
        q = self.range_around(a, _date(d), latest_ts)
        asof_ts = latest_ts if self.rng.random() < 0.5 else ts - 1
        return (q[0], q[1], q[2], asof_ts)


# -- engine calls -------------------------------------------------------------


def replicated_prices(spark, data_dir: str):
    from pyspark.sql import functions as F

    from findb_spark.prices import prices_from_lineitem

    base = prices_from_lineitem(spark, data_dir)
    copies = [
        base.withColumn("asset_id", F.col("asset_id") + F.lit(ASSET_STRIDE * k)) for k in range(REPLICAS)
    ]
    return reduce(lambda a, b: a.unionByName(b), copies)


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def bulk_load(log: OpLog, spark, data_dir: str, path: str) -> float:
    """Load the replicated table into ``path``; returns the seconds taken."""
    from findb_spark import layout

    t0 = time.perf_counter()
    with log.span("prices.prices_from_lineitem"):
        src = replicated_prices(spark, data_dir)
    with log.span("layout.load"):
        layout.write_prices(src, path)
    return time.perf_counter() - t0


def serving_cycle(log: OpLog, spark, tbl, gen: QueryGen, asked: dict[int, list[tuple]]) -> None:
    """One asof_serving cycle through ``log``; records each op's questions
    in ``asked`` for the oracle."""
    from findb_spark import asof
    from findb_spark.session import local_relation_df

    for kind, q in gen.serving_cycle():
        if kind == "batch":
            rows = [(i, *x) for i, x in enumerate(q)]
            steps = [
                Step("session.local_relation", "build", lambda rows=rows: local_relation_df(spark, rows, QUERY_SCHEMA)),
                Step("asof.batch.build", "build", lambda qdf: asof.asof_batch(tbl, qdf)),
                Step("exec.batch", "exec", _rows),
            ]
            op = log.run(kind, steps)
            asked[op.seq] = [(*r, 0) for r in rows]
        else:
            op = log.run(kind, _read_steps(kind, q, spark, tbl))
            asked[op.seq] = [(0, *q, 0)]


def load_and_warm(log: OpLog, spark, data_dir: str, run_dir: str, uni: Universe, seed: int) -> tuple[str, dict]:
    """The set-up of both workloads: one bulk load, then ``WARM_CYCLES``
    untimed serving cycles on a stream of their own, so the timed loop
    starts with warm code paths. Returns the table path and the set-up
    figures, among them the count of warm-up ops and of those that failed
    (they are checked like the timed ones)."""
    from findb_spark import layout

    path = os.path.join(run_dir, "table")
    t0 = time.perf_counter()
    load_s = bulk_load(log, spark, data_dir, path)
    warm = OpLog(spark, trace=False)
    tbl = layout.read_prices(spark, path)
    gen = QueryGen(random.Random(f"warm-{seed}"), uni)
    asked: dict[int, list[tuple]] = {}
    for _ in range(WARM_CYCLES):
        serving_cycle(warm, spark, tbl, gen, asked)
    end = mark()
    check_ops(warm, data_dir, asked, [])
    files, size = dir_stats(path)
    return path, {
        "load_s": load_s,
        "load_warm_s": end.t - t0,
        "end": end,
        "warm_ops": len(warm.ops),
        "warm_failed": warm.failed(),
        "files": files,
        "bytes": size,
        "rows": uni.rows * REPLICAS,
    }


# -- the oracle ---------------------------------------------------------------


def oracle_answers(data_dir: str, queries: list[tuple], revisions: list[tuple]) -> dict:
    """Expected rows per (op seq, query id), date descending.

    ``queries``: (seq, query_id, asset_id, start, end, asof_ts, commits
    visible). ``revisions``: (asset_id, date, ts, value, commit_no). Base
    rows apply to every replica of their part key; a revision applies only
    to the replica it was written for."""
    import duckdb
    import pandas as pd

    from findb_spark.prices import PRICES_ORACLE_CTE

    q = pd.DataFrame(
        queries,
        columns=["seq", "query_id", "asset_id", "start_date", "end_date", "asof_ts", "visible"],
    )
    q["asset_base"] = [base_asset(a) for a in q["asset_id"]]
    revs = pd.DataFrame(
        revisions or [(0, 0, 0, 0.0, 1 << 30)],
        columns=["asset_id", "date", "ts", "value", "commit_no"],
    ).astype({"asset_id": "int64", "date": "int64", "ts": "int64", "value": "float64", "commit_no": "int64"})
    con = duckdb.connect()
    try:
        _lineitem_view(con, data_dir)
        con.register("q", q)
        con.register("revs", revs)
        rows = con.execute(
            f"""
            WITH {PRICES_ORACLE_CTE},
            cand AS (
              SELECT q.seq, q.query_id, q.asset_id, p.date, p.ts, p.value
              FROM q JOIN prices_v p
                ON p.asset_id = q.asset_base AND p.date BETWEEN q.start_date AND q.end_date
               AND p.ts <= q.asof_ts
              UNION ALL
              SELECT q.seq, q.query_id, q.asset_id, r.date, r.ts, r.value
              FROM q JOIN revs r
                ON r.asset_id = q.asset_id AND r.date BETWEEN q.start_date AND q.end_date
               AND r.ts <= q.asof_ts AND r.commit_no <= q.visible
            ),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY seq, query_id, date ORDER BY ts DESC, value DESC) AS rn
              FROM cand
            )
            SELECT seq, query_id, asset_id, date, ts, value FROM ranked WHERE rn = 1
            ORDER BY seq, query_id, date DESC
            """
        ).fetchall()
    finally:
        con.close()
    out: dict[tuple[int, int], list[tuple]] = {}
    for seq, qid, a, d, ts, v in rows:
        out.setdefault((seq, qid), []).append((a, d, ts, v))
    return out


def check_ops(log: OpLog, data_dir: str, asked: dict[int, list[tuple]], revisions: list[tuple]) -> None:
    """Mark every answered read op ok / not ok. ``asked``: op seq ->
    [(query_id, asset, start, end, asof_ts, commits visible)]."""
    flat = [(seq, *q) for seq, qs in asked.items() for q in qs]
    expected = oracle_answers(data_dir, flat, revisions)
    for op in log.ops:
        if op.seq not in asked or op.answer is None:
            continue
        if op.kind == "batch":
            got: dict[int, list[tuple]] = {}
            for qid, *row in op.answer:
                got.setdefault(qid, []).append(tuple(row))
        else:
            got = {0: op.answer} if op.answer else {}
        want = {qid: rows for (seq, qid), rows in expected.items() if seq == op.seq}
        op.ok = got == want


# -- workloads ----------------------------------------------------------------


def _read_steps(kind: str, q: tuple, spark, table) -> list[Step]:
    """One as-of read. ``table`` is an open DataFrame, or a path that the
    read opens first (a table that changes between reads)."""
    from findb_spark import asof, layout

    a, s, e, t = q
    if kind == "point":
        query = lambda tbl: asof.asof_point(tbl, a, s, t)  # noqa: E731
    else:
        query = lambda tbl: asof.asof_range(tbl, a, s, e, t)  # noqa: E731
    if isinstance(table, str):
        steps = [
            Step("layout.read_prices", "build", lambda: layout.read_prices(spark, table)),
            Step(f"asof.{kind}.build", "build", query),
        ]
    else:
        steps = [Step(f"asof.{kind}.build", "build", lambda: query(table))]
    return steps + [Step(f"exec.{kind}", "exec", _rows)]


def run_asof_serving(log: OpLog, spark, data_dir: str, run_dir: str, seed: int, seconds: float) -> dict:
    from findb_spark import layout

    uni = Universe.load(data_dir)
    path, setup = load_and_warm(log, spark, data_dir, run_dir, uni, seed)
    tbl = layout.read_prices(spark, path)
    gen = QueryGen(random.Random(seed), uni)
    asked: dict[int, list[tuple]] = {}
    log.open_window(seconds)
    while log.another_cycle():
        log.begin_cycle()
        serving_cycle(log, spark, tbl, gen, asked)
        log.end_cycle()
    check_ops(log, data_dir, asked, [])
    detail = {}
    for kind, qs in (("range", (0.5, 0.95)), ("point", (0.5,)), ("batch", (0.5,))):
        detail.update(log.latency_stats(kind, (kind,), qs))
    return {"setup": setup, "table_path": path, "detail": detail}


def run_revision_ingest(log: OpLog, spark, data_dir: str, run_dir: str, seed: int, seconds: float) -> dict:
    from findb_spark import layout
    from findb_spark.prices import PRICE_SCHEMA
    from findb_spark.session import local_relation_df

    uni = Universe.load(data_dir)
    path, setup = load_and_warm(log, spark, data_dir, run_dir, uni, seed)
    gen = QueryGen(random.Random(seed), uni)
    latest_ts = uni.max_ts
    revisions: list[tuple] = []  # (asset, date, ts, value, commit_no)
    asked: dict[int, list[tuple]] = {}
    appended_bytes = compact_bytes = 0
    files_before_compact: list[int] = []
    commits = compactions = 0
    log.open_window(seconds)
    while log.another_cycle():
        log.begin_cycle()
        for _ in range(COMMITS_PER_COMPACT):
            revs = gen.revisions(latest_ts + 1)
            with log.untimed():
                before = table_files(path)
            op = log.run(
                "commit",
                [
                    Step("session.local_relation", "build", lambda revs=revs: local_relation_df(spark, revs, PRICE_SCHEMA)),
                    Step("layout.append", "exec", lambda df: layout.write_prices(df, path, mode="append")),
                ],
                scan=False,
            )
            if op.error is None:
                commits += 1
                latest_ts = revs[-1][2]
                revisions.extend((*r, commits) for r in revs)
                with log.untimed():
                    new_files = {f: n for f, n in table_files(path).items() if f not in before}
                    appended_bytes += sum(new_files.values())
                    op.ok = _parquet_rows(list(new_files)) == sorted(revs, key=lambda r: r[2])
            for _ in range(READS_PER_COMMIT):
                q = gen.revised_read(revs, latest_ts)
                op = log.run("read", _read_steps("read", q, spark, path))
                asked[op.seq] = [(0, *q, commits)]
        new_path = os.path.join(run_dir, f"compacted-{compactions + 1}")
        with log.untimed():
            files_before_compact.append(dir_stats(path)[0])
        op = log.run("compact", [Step("layout.compact", "exec", lambda: layout.compact(spark, path, new_path))], scan=False)
        if op.error is None:
            op.ok = op.answer["rows"] == setup["rows"] + len(revisions)
            compactions += 1
            with log.untimed():
                compact_bytes += dir_stats(new_path)[1]
                shutil.rmtree(path)
            path = new_path
        log.end_cycle()
    check_ops(log, data_dir, asked, revisions)
    files, size = dir_stats(path)
    live_rows = setup["rows"] + len(revisions)
    detail = {}
    for kind, qs in (("commit", (0.5, 0.9)), ("compact", (0.5,)), ("read", (0.5, 0.95))):
        detail.update(log.latency_stats(kind, (kind,), qs))
    detail.update(
        {
            "bytes_written_per_user_byte": metric(
                (appended_bytes + compact_bytes) / max(1, len(revisions) * USER_ROW_BYTES), "ratio"
            ),
            "space_per_user_byte": metric(size / (live_rows * USER_ROW_BYTES), "ratio"),
            "commits": metric(commits, "count"),
            "compactions": metric(compactions, "count"),
            "revision_rows": metric(len(revisions), "count"),
        }
    )
    return {
        "setup": setup,
        "table_path": path,
        "detail": detail,
        "layout": {
            "appended_bytes": appended_bytes,
            "compact_bytes": compact_bytes,
            "files_before_compact": files_before_compact,
            "final_files": files,
            "final_bytes": size,
        },
    }


def _parquet_rows(files: list[str]) -> list[tuple]:
    """(asset_id, date, ts, value) rows of the given parquet files, by ts."""
    import duckdb

    if not files:
        return []
    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT asset_id, date, ts, value FROM read_parquet(?) ORDER BY ts", [files]
        ).fetchall()
    finally:
        con.close()

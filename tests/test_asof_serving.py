"""The serving operators' answer order and their equivalence with the
plain formulation (filter, latest-revision aggregate, global ``orderBy``),
swept over ranges that span several files of a clustered, month-bucketed
table, plus the int-only contract of their bounds."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from findb_spark.asof import _latest_revision, add_revisions, asof_batch, asof_filter, asof_point, asof_range
from findb_spark.layout import read_prices, write_prices
from findb_spark.prices import golden_prices, prices_from_lineitem
from findb_spark.session import local_relation_df

SWEEP_SEED = 20261017
SWEEP_QUERIES = 24


@pytest.fixture(scope="module")
def clustered(spark, sf_dir, tmp_path_factory):
    """Lineitem prices plus a later revision of every third asset's rows,
    written as 8 range partitions bucketed by month."""
    base = prices_from_lineitem(spark, sf_dir)
    revised = base.where(F.col("asset_id") % 3 == 0).select(
        "asset_id", "date", (F.col("ts") + 30 * 86400).alias("ts"), (F.col("value") * 2).alias("value")
    )
    path = str(tmp_path_factory.mktemp("serving") / "prices")
    write_prices(add_revisions(base, revised), path, num_partitions=8, date_bucket="month")
    return read_prices(spark, path)


def _reference(prices, asset_id, start_date, end_date, asof_ts):
    """The formulation the serving statement replaced."""
    f = prices.where(
        (F.col("asset_id") == asset_id) & F.col("date").between(start_date, end_date) & (F.col("ts") <= asof_ts)
    )
    return _latest_revision(["asset_id", "date"], f).orderBy(F.desc("date"))


def _epoch(ymd: int) -> int:
    d = dt.date(ymd // 10000, ymd // 100 % 100, ymd % 100)
    return int(dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc).timestamp())


@pytest.fixture(scope="module")
def sweep(clustered):
    """Seeded (asset_id, start, end, asof_ts) questions: each range covers
    at least three of the asset's dates in different months (so several
    files), half of them with ``asof_ts`` cut inside the range."""
    dates: dict[int, list[int]] = {}
    for r in clustered.select("asset_id", "date").distinct().collect():
        dates.setdefault(r.asset_id, []).append(r.date)
    rng = random.Random(SWEEP_SEED)
    assets = sorted(a for a, ds in dates.items() if len({d // 100 for d in ds}) >= 4)
    out = []
    for a in rng.sample(assets, SWEEP_QUERIES):
        ds = sorted(dates[a])
        i = rng.randrange(len(ds) - 3)
        start, end = ds[i], ds[rng.randrange(i + 3, len(ds))]
        cut = rng.choice([d for d in ds if start <= d <= end])
        asof_ts = 10**10 if rng.random() < 0.5 else _epoch(cut) + rng.randint(1, 7)
        out.append((a, start, end, asof_ts))
    return out


def test_asof_range_matches_reference_in_date_desc_order(clustered, sweep):
    months = 0
    for q in sweep:
        got = [tuple(r) for r in asof_range(clustered, *q).collect()]
        want = [tuple(r) for r in _reference(clustered, *q).collect()]
        assert got == want, q
        dates = [r[1] for r in got]
        assert all(a > b for a, b in zip(dates, dates[1:])), (q, dates)
        months += len({d // 100 for d in dates}) >= 2
    # the sweep is not vacuous: most answers span several month files
    assert months >= SWEEP_QUERIES // 2, months


def test_asof_batch_ordered_by_query_then_date_desc(spark, clustered, sweep):
    # query ids deliberately out of table order
    rows = [(qid, *q) for qid, q in zip(random.Random(SWEEP_SEED).sample(range(100), len(sweep)), sweep)]
    queries = local_relation_df(
        spark, rows, "query_id bigint, asset_id bigint, start_date int, end_date int, asof_ts bigint"
    )
    got = [tuple(r) for r in asof_batch(clustered, queries).collect()]
    keys = [(r[0], -r[2]) for r in got]
    assert keys == sorted(keys) and len(set(keys)) == len(keys)
    for qid, *q in rows:
        want = [(qid, *r) for r in (tuple(x) for x in asof_range(clustered, *q).collect())]
        assert [r for r in got if r[0] == qid] == want, qid


@pytest.mark.parametrize("bad", [True, 1.5, "1", None], ids=["bool", "float", "str", "None"])
def test_serving_bounds_reject_non_int(spark, bad):
    """Parameter binding would cast these silently ('1' -> 1, 1.5 -> 1)."""
    prices = golden_prices(spark)
    with pytest.raises(TypeError):
        asof_range(prices, 0, 20200101, bad, 20)
    with pytest.raises(TypeError):
        asof_point(prices, bad, 20200131, 20)
    with pytest.raises(TypeError):
        asof_filter(prices, 0, bad, 20200131, 20)

"""Bitemporal as-of query operators — the reference's entire query surface.

Semantics (reference ``src/btree/file.rs:37-43`` + ``file.rs:508-570``): for
one asset and effective dates in ``[start_date, end_date]``, return at most
one row per date — the row with the largest ``ts <= asof_ts`` — in descending
date order. ``date`` is the effective/observation axis, ``ts`` the
knowledge/transaction axis; rows sharing ``(asset_id, date)`` are revisions.
Golden semantics pinned by the reference tests at ``file.rs:621-696``.

Spark-first design notes (100 TB posture):

- The single-query path (`asof_range`) is ONE ``spark.sql`` statement: the
  as-of predicate plus a ``GROUP BY`` latest-revision aggregate, with the
  bounds bound through named parameter markers (never interpolated into the
  SQL text). One parse + one analysis per query instead of a chain of
  eagerly analyzed Column-DSL steps. The predicate (asset equi + date range
  + ts bound, and the ``date_month`` partition range when the layout has
  one) is plain column comparisons against literals, so Catalyst prunes
  directories and pushes the rest into the Parquet scan: on a layout
  produced by :mod:`findb_spark.layout` the scan touches only the files /
  row-groups covering that asset's date range — the moral equivalent of the
  reference's B+tree descent (file.rs:425-452) at cluster scale.
- ``max_by(struct(ts, value), struct(ts, value))`` (:data:`LATEST_REVISION_SQL`,
  the one tie-break every as-of dedup shares) is *partial-aggregatable*:
  the per-(asset, date) latest revision combines map-side, so the one hash
  exchange moves at most one row per (asset, date) per map partition, not
  every revision. A window/``row_number`` formulation would shuffle every
  revision.
- Ordering is a one-partition LOCAL sort (``coalesce(1)`` +
  ``sortWithinPartitions``), not a global ``orderBy``: the answer holds at
  most one row per date of the range, so a single sorted partition is
  bounded, while a global sort adds a range-sampling job and a second
  shuffle stage to every query. The coalesce sits AFTER the aggregate's
  hash exchange on purpose: coalescing before it would also fold the scan
  into a single task that opens every file footer, which at scale is the
  wrong trade for one job fewer.
- The batched path (`asof_batch`) joins a (small) query table against the
  prices table. The query side is explicitly broadcast: N queries x
  scan-once of the pruned price range, no shuffle of the big side for the
  join itself; the only exchange is the per-(query_id, asset, date)
  aggregation, map-side combined, followed by the same one-partition
  local sort.
"""

from __future__ import annotations

import numbers

from pyspark.sql import DataFrame, Window, functions as F

#: canonical column order of a bitemporal prices table (FIXTURES.md §A1)
PRICE_COLUMNS = ("asset_id", "date", "ts", "value")

#: the latest-revision pick shared by every as-of dedup: per group the max-ts
#: row; ties on ts (not possible in well-formed data — (asset_id, date, ts)
#: is unique, FIXTURES.md §A1) break by max value for determinism
LATEST_REVISION_SQL = "max_by(struct(ts, value), struct(ts, value))"

#: the pushdown-able as-of predicate (file.rs:543-556) over named parameter
#: markers; the month range prunes hive ``date_month`` directories (see
#: findb_spark.layout.write_prices) before file stats are consulted
_ASOF_PREDICATE = (
    "asset_id = :asset_id AND `date` BETWEEN :start_date AND :end_date"
    " AND ts <= :asof_ts"
)
_MONTH_PREDICATE = " AND date_month BETWEEN :start_date DIV 100 AND :end_date DIV 100"


def _latest_revision(grouped_keys: list[str], df: DataFrame) -> DataFrame:
    """Per group, (ts, value) of the latest revision (:data:`LATEST_REVISION_SQL`)."""
    return df.groupBy(*grouped_keys).agg(F.expr(LATEST_REVISION_SQL).alias("_r")).select(
        *grouped_keys, F.col("_r.ts").alias("ts"), F.col("_r.value").alias("value")
    )


def _asof_where(
    prices: DataFrame, asset_id: int, start_date: int, end_date: int, asof_ts: int
) -> tuple[str, dict[str, int]]:
    """The as-of predicate for ``prices`` and its parameter bindings.

    Bounds must be ints: parameter binding would otherwise cast silently
    (``'1'`` -> 1, ``1.5`` -> 1, ``True`` -> 1)."""
    args = {"asset_id": asset_id, "start_date": start_date, "end_date": end_date, "asof_ts": asof_ts}
    for name, v in args.items():
        if isinstance(v, bool) or not isinstance(v, numbers.Integral):
            raise TypeError(f"{name} must be an int, got {type(v).__name__}: {v!r}")
        args[name] = int(v)
    pred = _ASOF_PREDICATE + (_MONTH_PREDICATE if "date_month" in prices.columns else "")
    return pred, args


def asof_filter(
    prices: DataFrame, asset_id: int, start_date: int, end_date: int, asof_ts: int
) -> DataFrame:
    """The rows of ``prices`` the as-of query may pick from: the same
    predicate `asof_range` aggregates over (file.rs:543-556)."""
    pred, args = _asof_where(prices, asset_id, start_date, end_date, asof_ts)
    return prices.sparkSession.sql(f"SELECT * FROM {{prices}} WHERE {pred}", args=args, prices=prices)


def asof_range(
    prices: DataFrame,
    asset_id: int,
    start_date: int,
    end_date: int,
    asof_ts: int,
) -> DataFrame:
    """The flagship operator: bitemporal as-of range query (file.rs:425-570).

    Returns columns (asset_id, date, ts, value), descending date order,
    at most one row per date.
    """
    pred, args = _asof_where(prices, asset_id, start_date, end_date, asof_ts)
    # COALESCE(1) hint + SORT BY = .coalesce(1).sortWithinPartitions(desc
    # date), kept inside the statement: one analysis instead of three
    return prices.sparkSession.sql(
        "SELECT /*+ COALESCE(1) */ asset_id, `date`, _r.ts AS ts, _r.value AS value"
        f" FROM (SELECT asset_id, `date`, {LATEST_REVISION_SQL} AS _r FROM {{prices}}"
        f" WHERE {pred} GROUP BY asset_id, `date`) SORT BY `date` DESC",
        args=args,
        prices=prices,
    )


def asof_point(prices: DataFrame, asset_id: int, date: int, asof_ts: int) -> DataFrame:
    """Degenerate single-date as-of query (golden tests file.rs:649-672)."""
    return asof_range(prices, asset_id, date, date, asof_ts)


def asof_batch(prices: DataFrame, queries: DataFrame, prune_bounds: bool = True) -> DataFrame:
    """Batched as-of evaluation — the reference's stubbed ``bulk_query``
    (file.rs:466-468; ``Query.id`` tagging at file.rs:561-565).

    ``queries`` schema: (query_id, asset_id, start_date, end_date, asof_ts).
    Result: (query_id, asset_id, date, ts, value), <=1 row per
    (query_id, date), ordered by (query_id, date desc).

    Plan: the query table is the bounded side (thousands of rows, not TB),
    so it is broadcast and the price table never shuffles for the join;
    the join output feeds a partial (map-side) latest-revision aggregate
    over one hash exchange on (query_id, asset_id, date); the aggregated
    answer — at most one row per (query, date) — is coalesced to one
    partition AFTER that exchange and sorted locally. No global sort, so
    no range-sampling job; and the scan keeps its full task parallelism,
    which a coalesce placed before the aggregate would collapse.

    ``prune_bounds``: one tiny driver-side aggregate over the (broadcast,
    bounded) query table yields *literal* global bounds — min(start_date),
    max(end_date), max(asof_ts) — that Catalyst pushes into the price scan
    as static predicates, turning the full-table pass into a range scan of
    the covered dates; the per-query bounds still apply in the join
    condition. Callers whose bounds are already literals pass False to
    skip that job.
    """
    if prune_bounds:
        lo, hi, ts_hi = queries.agg(
            F.min("start_date"), F.max("end_date"), F.max("asof_ts")
        ).first()
        if lo is not None:
            prices = prices.where(
                F.col("date").between(F.lit(lo), F.lit(hi)) & (F.col("ts") <= F.lit(ts_hi))
            )
    q = F.broadcast(queries)
    joined = prices.join(
        q,
        on=(
            (prices["asset_id"] == q["asset_id"])
            & (prices["date"] >= q["start_date"])
            & (prices["date"] <= q["end_date"])
            & (prices["ts"] <= q["asof_ts"])
        ),
        how="inner",
    ).select(
        q["query_id"],
        prices["asset_id"],
        prices["date"],
        prices["ts"],
        prices["value"],
    )
    return (
        _latest_revision(["query_id", "asset_id", "date"], joined)
        .coalesce(1)
        .sortWithinPartitions("query_id", F.desc("date"))
    )


def _tagged_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: tuple[str, ...],
) -> DataFrame:
    """The as-of joins' one input relation: right rows (``_is_q`` 0,
    ``_vs`` = the value struct) unioned with left probe rows (``_is_q``
    1, ``_vs`` NULL), keyed by ``on`` with the time in ``_t``; left
    payload columns travel as ``_l_<c>`` (NULL on right rows).

    ALL requested right columns travel in ONE struct, so a single
    last/first(ignorenulls) selects one whole right row.  Independent
    per-column picks would stitch a "torn row" whenever a value column
    contains NULLs (each column's last non-null can come from a
    DIFFERENT revision, which would also let a stale value slip past the
    tolerance check)."""
    l_payload = [c for c in left.columns if c != on]
    r_types = dict(right.dtypes)
    vs_type = "struct<" + ",".join(f"{c}:{r_types[c]}" for c in value_cols) + ">"
    tagged_r = right.select(
        F.col(on),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_is_q"),
        F.struct(*[F.col(c) for c in value_cols]).alias("_vs"),
        *[F.lit(None).alias(f"_l_{c}") for c in l_payload],
    )
    tagged_l = left.select(
        F.col(on),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_is_q"),
        F.lit(None).cast(vs_type).alias("_vs"),
        *[F.col(c).alias(f"_l_{c}") for c in l_payload],
    )
    return tagged_r.unionByName(tagged_l)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "asset_id",
    left_time: str = "qts",
    right_time: str = "ts",
    value_cols: tuple[str, ...] = ("ts", "value"),
    direction: str = "backward",
    tolerance: int | None = None,
) -> DataFrame:
    """Generic as-of join: for every left row, attach the right row with the
    largest ``right_time <= left_time`` for the same key — the
    trades-to-quotes join every tick store needs (generalizes the
    reference's one-asset query shape, file.rs:37-43, to arbitrary probe
    tables). ``direction='forward'`` instead attaches the *smallest*
    ``right_time >= left_time`` (next-known-value semantics); both
    directions include exact-time matches.

    Implemented with the union+last_value trick, NOT a range join: tag both
    inputs, union them, and per key take the running last known value in
    time order. One shuffle on the key, O(n log n) within partitions, no
    range-predicate row explosion — this is the formulation that survives
    100 TB (a naive ``left.join(right, right.ts <= left.ts)`` is O(n*m)
    before aggregation).

    Left must carry ``left_time`` plus any payload columns; output = left
    columns + ``matched_<c>`` for each requested right value column (NULL
    when nothing is known yet — same semantics as the reference iterator
    yielding nothing before the first revision, file.rs:543-556).

    ``tolerance`` (pandas ``merge_asof(tolerance=...)`` semantics): a match
    farther than ``tolerance`` time units from ``left_time`` is discarded
    (all matched columns null). Requires ``right_time`` in ``value_cols``
    so the matched time is available; applied as a pure post-projection —
    the plan (one shuffle, running scan) is unchanged, so staleness
    filtering is free at any scale.
    """
    if tolerance is not None and right_time not in value_cols:
        raise ValueError("tolerance requires right_time in value_cols")
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    l_cols = [c for c in left.columns]
    unioned = _tagged_union(left, right, on, left_time, right_time, value_cols)
    # data rows sort before probe rows at equal time => ties are inclusive
    # (right_time == left_time matches), matching `ts <= asof` semantics.
    # forward direction = the same running last-known-value scan over a
    # time-descending order (next value >= t is the last one seen walking
    # backward from +inf).
    t_order = F.col("_t") if direction == "backward" else F.col("_t").desc()
    w = (
        Window.partitionBy(on)
        .orderBy(t_order, "_is_q", F.col("_vs").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.select(
        on,
        "_t",
        "_is_q",
        *[F.col(f"_l_{c}") for c in l_cols if c != on],
        *[
            F.last(F.col("_vs"), ignorenulls=True).over(w)[c].alias(f"matched_{c}")
            for c in value_cols
        ],
    )
    out = matched.where(F.col("_is_q") == 1).select(
        on,
        *[F.col(f"_l_{c}").alias(c) for c in l_cols if c != on],
        *[F.col(f"matched_{c}") for c in value_cols],
    )
    if tolerance is not None:
        mt = F.col(f"matched_{right_time}")
        lt = F.col(left_time)
        stale = (
            (lt - mt) > tolerance if direction == "backward" else (mt - lt) > tolerance
        )
        out = out.select(
            on,
            *[c for c in l_cols if c != on],
            *[
                F.when(stale, F.lit(None)).otherwise(F.col(f"matched_{c}")).alias(f"matched_{c}")
                for c in value_cols
            ],
        )
    return out


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str = "asset_id",
    left_time: str = "qts",
    right_time: str = "ts",
    value_cols: tuple[str, ...] = ("ts", "value"),
) -> DataFrame:
    """Nearest-direction as-of join (pandas ``merge_asof(direction=
    'nearest')``): for every left row, the right row minimizing
    ``|right_time - left_time|``; exact ties prefer the backward
    (earlier) match.  Completes the family: :func:`asof_join` covers
    backward/forward/tolerance, this covers 'closest print either side'
    — the mark-to-nearest-quote shape.

    Implemented as ONE union+window pass — not as two directional joins
    stitched back together.  Both inputs are tagged and unioned (the same
    machinery as :func:`asof_join`); over a single per-key time sort, the
    backward match is ``last(value_struct, ignorenulls)`` over the
    preceding frame and the forward match is ``first(value_struct,
    ignorenulls)`` over the following frame.  One shuffle, one sort, two
    frame scans, fully lazy — no self-join (a rejoin keyed on the left
    row cross-products duplicate probes and drops NULL-bearing rows; a
    synthetic-row-id rejoin forces an eager checkpoint of the whole probe
    table, which at 100 TB is a materialization this formulation never
    pays).

    Equal-time right rows sort before the probe, so the forward frame
    (which starts AT the probe) does not see them — harmless: an
    equal-time row is a distance-0 backward match, which wins every tie
    by the stated rule.  Duplicate right rows sharing (on, right_time)
    resolve to the MAX value-struct in both directions — the same rule
    :func:`asof_join` applies, so 'nearest' never silently disagrees
    with its directional siblings.  ``right_time`` must be in
    ``value_cols`` (the distances need the matched times)."""
    if right_time not in value_cols:
        raise ValueError("nearest requires right_time in value_cols")
    l_cols = [c for c in left.columns]
    unioned = _tagged_union(left, right, on, left_time, right_time, value_cols)
    # Duplicate right rows sharing (on, right_time) tie-break to the MAX
    # value-struct in BOTH directions (matching asof_join's rule): the
    # backward frame orders _vs ASC and takes last(); the forward frame
    # orders _vs DESC and takes first().  The two orderings share the one
    # hash exchange on `on` — Catalyst plans a second in-partition sort,
    # never a second shuffle.
    wb = (
        Window.partitionBy(on)
        .orderBy(F.col("_t"), F.col("_is_q"), F.col("_vs").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(on)
        .orderBy(F.col("_t"), F.col("_is_q"), F.col("_vs").desc_nulls_last())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    j = (
        unioned.select(
            on,
            "_t",
            "_is_q",
            *[F.col(f"_l_{c}") for c in l_cols if c != on],
            F.last(F.col("_vs"), ignorenulls=True).over(wb).alias("_b"),
            F.first(F.col("_vs"), ignorenulls=True).over(wf).alias("_f"),
        )
        .where(F.col("_is_q") == 1)
        .select(
            on,
            *[F.col(f"_l_{c}").alias(c) for c in l_cols if c != on],
            *[F.col("_b")[c].alias(f"_b_{c}") for c in value_cols],
            *[F.col("_f")[c].alias(f"_f_{c}") for c in value_cols],
        )
    )
    bt, ft = F.col(f"_b_{right_time}"), F.col(f"_f_{right_time}")
    lt = F.col(left_time)
    use_back = F.when(bt.isNull(), F.lit(False)).otherwise(
        ft.isNull() | ((lt - bt) <= (ft - lt))
    )
    return j.select(
        *l_cols,
        *[
            F.when(use_back, F.col(f"_b_{c}"))
            .otherwise(F.col(f"_f_{c}"))
            .alias(f"matched_{c}")
            for c in value_cols
        ],
        F.when(bt.isNull() & ft.isNull(), F.lit(None).cast("string"))
        .when(use_back, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("matched_direction"),
    )


def point_lookup(df: DataFrame, key_col: str, key: int) -> DataFrame:
    """Exact-key lookup (reference mem.rs:387-393). On clustered Parquet this
    prunes to one file / row group via min-max stats."""
    return df.where(F.col(key_col) == F.lit(key))


def range_scan(df: DataFrame, key_col: str, from_key: int, to_key: int) -> DataFrame:
    """Inclusive ascending range scan (reference mem.rs:395-404)."""
    return df.where(F.col(key_col).between(from_key, to_key)).orderBy(key_col)


def add_revisions(prices: DataFrame, revisions: DataFrame) -> DataFrame:
    """Revision-aware append (reference insert/update semantics, mem.rs:406-437,
    re-expressed bitemporally): appending a later-ts row for an existing
    (asset_id, date) *revises* the fact without destroying history; as-of
    queries with an earlier asof_ts still see the old value. Pure union —
    immutability is the feature, not a limitation."""
    return prices.select(*PRICE_COLUMNS).unionByName(revisions.select(*PRICE_COLUMNS))

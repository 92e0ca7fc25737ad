"""Benchmark inputs, generated inside the checkout.

The TPC-H tables come from DuckDB's bundled ``dbgen`` and are cast to the
column types of the engine's testdata (TESTDATA.md): BIGINT keys, DOUBLE
money, TIMESTAMP dates. ``events``, ``documents`` and ``embeddings`` follow
the same shapes as the testdata tables, drawn from a fixed seed. Base tables
do not depend on the workload seed: the seed drives each workload's
operation stream and revisions, so every seed measures the same table.

Tables are written once per checkout under ``<work>/data/sf<SF>`` (a
directory name the oracle's non-empty-result check understands) and reused
by later runs; generation takes about a second at sf0.01.
"""

from __future__ import annotations

import json
import os
import shutil

#: bump when the generated tables change, so stale caches are rebuilt
DATA_VERSION = 1
TABLE_SEED = 42

_TPCH_SELECTS = {
    "region": "SELECT r_regionkey::INT r_regionkey, r_name FROM region",
    "nation": "SELECT n_nationkey::INT n_nationkey, n_name, n_regionkey::INT n_regionkey FROM nation",
    "customer": (
        "SELECT c_custkey::BIGINT c_custkey, c_name, c_nationkey::INT c_nationkey, "
        "c_acctbal::DOUBLE c_acctbal, c_mktsegment FROM customer"
    ),
    "supplier": (
        "SELECT s_suppkey::BIGINT s_suppkey, s_name, s_nationkey::INT s_nationkey, "
        "s_acctbal::DOUBLE s_acctbal FROM supplier"
    ),
    "part": (
        "SELECT p_partkey::BIGINT p_partkey, p_name, p_brand, p_type, p_size::INT p_size, "
        "p_retailprice::DOUBLE p_retailprice FROM part"
    ),
    "orders": (
        "SELECT o_orderkey::BIGINT o_orderkey, o_custkey::BIGINT o_custkey, o_orderstatus, "
        "o_totalprice::DOUBLE o_totalprice, o_orderdate::TIMESTAMP o_orderdate, "
        "o_orderpriority FROM orders"
    ),
    "lineitem": (
        "SELECT l_orderkey::BIGINT l_orderkey, l_partkey::BIGINT l_partkey, "
        "l_suppkey::BIGINT l_suppkey, l_linenumber::INT l_linenumber, "
        "l_quantity::DOUBLE l_quantity, l_extendedprice::DOUBLE l_extendedprice, "
        "l_discount::DOUBLE l_discount, l_tax::DOUBLE l_tax, l_returnflag, l_linestatus, "
        "l_shipdate::TIMESTAMP l_shipdate FROM lineitem"
    ),
}

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ("en", "zh", "de", "fr", "es")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")


def _events(rng, sf: float):
    import numpy as np
    import pandas as pd

    n = int(1_000_000 * sf)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span, n)) + start
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, int(15_000 * sf), n).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, sf: float):
    """Bag-of-words documents; one in twenty repeats an earlier document
    plus a ``dup`` marker, so the dedup operators have near-duplicates."""
    import numpy as np
    import pandas as pd

    n = int(50_000 * sf)
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, sf: float):
    """Unit vectors around ten label centroids (64 dims, float32)."""
    import numpy as np
    import pandas as pd

    n, dim = int(50_000 * sf), 64
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    x = centroids[labels] * 0.15 + rng.normal(0.0, 1.0, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(x),
            "label": labels.astype(np.int32),
        }
    )


def _write(df_or_table, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = df_or_table if isinstance(df_or_table, pa.Table) else pa.Table.from_pandas(
        df_or_table, preserve_index=False
    )
    pq.write_table(table, path, compression="snappy")


def ensure_tables(work_dir: str, sf: float) -> str:
    """Return the directory holding every table at scale ``sf``, generating
    it first if this checkout has no current copy."""
    import duckdb
    import numpy as np

    out = os.path.join(work_dir, "data", f"sf{sf:g}")
    stamp = os.path.join(out, "_GENERATED.json")
    meta = {"version": DATA_VERSION, "sf": sf, "seed": TABLE_SEED}
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f) == meta:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute(f"CALL dbgen(sf={sf})")
        for name, sql in _TPCH_SELECTS.items():
            _write(con.execute(sql).arrow(), os.path.join(tmp, f"{name}.parquet"))
    finally:
        con.close()
    rng = np.random.default_rng(TABLE_SEED)
    for name, make in (("events", _events), ("documents", _documents), ("embeddings", _embeddings)):
        _write(make(rng, sf), os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_GENERATED.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out

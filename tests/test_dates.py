"""Pin the arithmetic calendar keys (functions/dates.py) to the
``date_format`` strings they replace, for DATE and TIMESTAMP inputs under
the session timezone."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from findb_spark.functions.dates import yyyymm_int, yyyymmdd_int

DATES = [
    "2020-02-29", "2000-02-29", "1900-02-28", "1900-03-01", "1999-12-31",
    "2000-01-01", "1969-12-31", "1970-01-01", "1601-01-01", "2024-12-31",
]
TIMESTAMPS = [
    "2020-02-29 23:59:59.999999", "2020-03-01 00:00:00", "1999-12-31 23:59:59.999999",
    "2000-01-01 00:00:00", "1969-12-31 23:59:59.999999", "1970-01-01 00:00:00.000001",
    "2023-12-31 23:30:00", "2024-01-01 00:30:00", "1950-06-30 23:59:59",
]


@pytest.mark.parametrize("tz", ["UTC", "America/New_York", "Asia/Kolkata"])
def test_integer_date_keys_match_date_format(spark, tz):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        d = spark.createDataFrame([(s,) for s in DATES], "s string").select(
            F.to_date("s").alias("c")
        )
        t = spark.createDataFrame([(s,) for s in TIMESTAMPS], "s string").select(
            F.to_timestamp("s").alias("c")
        )
        for df in (d, t):
            rows = df.select(
                yyyymmdd_int("c").alias("day"),
                F.date_format("c", "yyyyMMdd").cast("int").alias("day_ref"),
                yyyymm_int(F.col("c")).alias("month"),
                F.date_format("c", "yyyyMM").cast("int").alias("month_ref"),
            ).collect()
            assert len(rows) in (len(DATES), len(TIMESTAMPS))
            for r in rows:
                assert r.day is not None and r.day == r.day_ref, r
                assert r.month is not None and r.month == r.month_ref, r
        # the wall-clock fields are read in the session zone: a timestamp
        # just before UTC midnight is already the next day in Kolkata
        late = spark.sql(
            "SELECT TIMESTAMP'2020-02-29 23:59:59 UTC' AS c"
        ).select(yyyymmdd_int("c")).first()[0]
        assert late == {"UTC": 20200229, "America/New_York": 20200229,
                        "Asia/Kolkata": 20200301}[tz]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)

"""Country views: dedup-latest + derived columns, parameterized.

Parity target: the reference's generated per-country SQL views
(``src/utils/view_generator.py:17-65``) —

.. code-block:: sql

    ROW_NUMBER() OVER (PARTITION BY CUST_I ORDER BY CONSUL_DT DESC) rn
    ... WHERE rn = 1 AND COUNTRY = '<country>'

plus derived ``AGE`` and ``DAYS_SINCE_CONSUL_GT_30``. The reference
string-templates SQL files per country and ships them to the warehouse;
here the view is a parameterized DataFrame function — codegen is
unnecessary when the plan itself is data (SURVEY.md §3.2).

Scale notes (100 TB posture):

- the window dedup shuffles on ``CUST_I``; for repeated dedups over a
  persisted warehouse table, bucket the table by ``CUST_I`` on write so
  the exchange disappears (see ``sources/parquet_io.write_warehouse``).
- the per-country filter is partition-pruned when the warehouse table is
  written ``partitionBy("COUNTRY")`` — each country view then scans only
  its own partition directory.
- ties on ``CONSUL_DT`` are non-deterministic in the reference; callers
  that need stable output pass ``tie_breakers`` (e.g. a unique id).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.functions.derive import age_years, staleness_flag

VIEW_COLUMNS = [
    "CUST_I",
    "NAME",
    "OPEN_DT",
    "CONSUL_DT",
    "VAC_ID",
    "DR_NAME",
    "STATE",
    "COUNTRY",
    "DOB",
    "FLAG",
    "AGE",
    "DAYS_SINCE_CONSUL_GT_30",
]


def dedup_latest(
    df: DataFrame,
    key: str = "CUST_I",
    order_col: str = "CONSUL_DT",
    tie_breakers: list[Column] | None = None,
) -> DataFrame:
    """Top-1-per-group dedup: keep the most recent ``order_col`` row per
    ``key`` (W1, ``view_generator.py:42-45,63``). DESC with NULLs last,
    matching both Snowflake's and Spark's default DESC NULL ordering."""
    order = [F.col(order_col).desc_nulls_last()] + list(tie_breakers or [])
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def with_derived(
    df: DataFrame, as_of: str | _dt.date | Column | None = None
) -> DataFrame:
    """AGE + DAYS_SINCE_CONSUL_GT_30 (F10/F11)."""
    as_of = F.current_date() if as_of is None else as_of
    return df.withColumn("AGE", age_years(F.col("DOB"), as_of)).withColumn(
        "DAYS_SINCE_CONSUL_GT_30", staleness_flag(F.col("CONSUL_DT"), as_of)
    )


def country_view(
    df: DataFrame,
    country: str,
    as_of: str | _dt.date | Column | None = None,
    tie_breakers: list[Column] | None = None,
) -> DataFrame:
    """One country's view over the warehouse table.

    Filter-first (vs. the reference's dedup-then-filter): because the
    window partitions by ``CUST_I`` and every row of a customer shares
    one COUNTRY in the per-country source files, filtering before the
    window prunes the scan to one partition *and* shrinks the shuffle.
    """
    filtered = df.filter(F.col("COUNTRY") == country)
    deduped = dedup_latest(filtered, tie_breakers=tie_breakers)
    return with_derived(deduped, as_of=as_of).select(*VIEW_COLUMNS)


def distinct_countries(df: DataFrame) -> list[str]:
    """A1: the bounded-cardinality country list driving view fan-out
    (``main.py:74-81``) — one job. ``run_pipeline`` gets the same list
    from an ``Observation`` on its warehouse write instead."""
    rows = df.select("COUNTRY").filter(F.col("COUNTRY").isNotNull()).distinct().collect()
    return sorted(r["COUNTRY"] for r in rows)


def register_country_views(
    spark: SparkSession,
    df: DataFrame,
    as_of: str | _dt.date | None = None,
    prefix: str = "VIEW_",
    countries: list[str] | None = None,
) -> list[str]:
    """Fan out one temp view per country (C2 equivalent —
    ``CREATE OR REPLACE VIEW VIEW_<COUNTRY>`` without the SQL-file
    round-trip). Returns the created view names. Registration runs no
    job when ``countries`` is given; without it the list comes from
    :func:`distinct_countries`."""
    if countries is None:
        countries = distinct_countries(df)
    names = []
    for country in countries:
        name = f"{prefix}{country.replace(' ', '_').upper()}"
        country_view(df, country, as_of=as_of).createOrReplaceTempView(name)
        names.append(name)
    return names

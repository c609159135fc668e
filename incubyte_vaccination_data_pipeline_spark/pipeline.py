"""End-to-end batch pipeline (C1 orchestration parity).

Reference flow (``main.py:141-165``): load CSVs -> validate -> write
warehouse -> generate + execute per-country views. Here the whole flow
is one lazy Spark DAG with two sinks (warehouse + dead-letter) and the
views registered as temp views over the freshly-written table.

One pass reads each input once and parses it once:

- ingest builds one scan per CSV dialect and runs no job
  (``sources/csv_ingest``);
- every date column is parsed in one lockstep chain
  (``operators/validate.parse_types``) and that parsed frame is
  persisted: the dead-letter write fills the cache (its rows are a
  filter on the error column) and the warehouse write reads the same
  cached rows;
- the cache is released in a ``finally`` right after the two writes,
  so nothing stays cached when ``run_pipeline`` returns and a re-run
  over changed files reads the files again;
- the run's counts and the country list come from ``Observation``s on
  the two writes (no extra job) and are logged; the country list
  drives view registration, and the warehouse is read back with
  ``WAREHOUSE_SCHEMA`` (no schema-inference job). The only jobs of a
  pass are its writes.
"""

from __future__ import annotations

import datetime as _dt
import json
import logging

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.operators.validate import (
    get_valid_records,
    parse_types,
    split_parsed,
    to_warehouse,
)
from incubyte_vaccination_data_pipeline_spark.operators.views import register_country_views
from incubyte_vaccination_data_pipeline_spark.schema import (
    MANDATORY_DATE_COLUMNS,
    WAREHOUSE_SCHEMA,
)
from incubyte_vaccination_data_pipeline_spark.sources.csv_ingest import load_source_data
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
    write_dead_letter,
    write_warehouse,
)

logger = logging.getLogger(__name__)


def run_pipeline(
    spark: SparkSession,
    data_dir: str,
    warehouse_path: str,
    dead_letter_path: str | None = None,
    as_of: str | _dt.date | None = None,
    load_date: str | _dt.datetime | None = None,
    strict: bool = False,
    dead_letter_format: str = "parquet",
) -> tuple[DataFrame, list[str]]:
    """Run the full batch: returns (warehouse DataFrame, view names).

    ``dead_letter_format="csv"`` switches the quarantine channel to the
    reference's timestamped-CSV convention (see ``write_dead_letter``).
    """
    raw = load_source_data(spark, data_dir, strict=strict)
    # both writes read this one parse, and their filters on parsed
    # columns apply to the cached rows (pushed into the parse chain they
    # would inline it into one predicate too large to compile)
    parsed = parse_types(raw).persist(StorageLevel.MEMORY_AND_DISK)
    summary: dict = {}
    try:
        clean, dead = split_parsed(parsed, raw.columns)
        if dead_letter_path is not None:
            dead_obs = Observation()
            counts = [
                F.count_if(F.col("Invalid_Field") == c).alias(c)
                for c in MANDATORY_DATE_COLUMNS
            ]
            write_dead_letter(
                dead.observe(dead_obs, *counts), dead_letter_path, fmt=dead_letter_format
            )
            summary["dead_letter_rows_by_field"] = dead_obs.get
        warehouse_obs = Observation()
        warehouse = to_warehouse(get_valid_records(clean), load_date=load_date).observe(
            warehouse_obs,
            F.count(F.lit(1)).alias("rows"),
            F.collect_set("COUNTRY").alias("countries"),
        )
        write_warehouse(warehouse, warehouse_path, mode="overwrite")
    finally:
        parsed.unpersist()
    observed = warehouse_obs.get
    countries = sorted(observed["countries"])
    summary.update(warehouse_rows=observed["rows"], countries=countries)
    logger.info("run summary: %s", json.dumps(summary, sort_keys=True))

    stored = spark.read.schema(WAREHOUSE_SCHEMA).parquet(warehouse_path)
    views = register_country_views(spark, stored, as_of=as_of, countries=countries)
    return stored, views

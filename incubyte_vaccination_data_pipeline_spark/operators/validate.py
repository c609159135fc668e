"""Type validation and the dead-letter split.

Parity targets (reference ``src/validators/data_validator.py``):

- P7 string casts of the 8 listed columns (``data_validator.py:129-143``).
- UD1/P9 date validation with reasons (``data_validator.py:146-190``):
  mandatory-date failures are *quarantined* (copied to a dead-letter
  frame annotated with ``Validation_Error`` + ``Invalid_Field``) and the
  offending cell nulled; optional-date failures are nulled silently.
- P8 valid-record filter (``data_validator.py:251-290``): Open_Date not
  null AND every mandatory non-date column non-null and non-empty.
- P5/P6 warehouse rename + name normalization
  (``data_validator.py:282``, ``snowflake_connector.py:203,273``).

Spark-first re-expression: instead of the reference's mask-and-concat,
validation is one lazy parse producing a DATE column plus an error
column per date field (``parse_types``); the quarantine and the clean
path are a filter and a projection over that one parse
(``split_parsed``), so a caller that persists the parse pays one scan
and one parse for both sinks (``pipeline.run_pipeline``). No Python in
the loop.

Documented divergence: the reference's ``astype(str)`` turns missing
names into the literal string ``"nan"``, which then *passes* the
non-empty filter; this engine keeps SQL NULLs and filters them out.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.functions.dates import with_parsed_dates
from incubyte_vaccination_data_pipeline_spark.schema import (
    MANDATORY_COLUMNS,
    MANDATORY_DATE_COLUMNS,
    OPTIONAL_DATE_COLUMNS,
    STRING_COLUMNS,
    WAREHOUSE_COLUMN_MAP,
    WAREHOUSE_SCHEMA,
    normalize_warehouse_name,
)

DATE_COLUMNS = MANDATORY_DATE_COLUMNS + OPTIONAL_DATE_COLUMNS


def parse_types(df: DataFrame) -> DataFrame:
    """P7 string casts plus ONE parse of every date column: each date
    column ``c`` gains ``__date_c`` (``DateType``, NULL where
    unparseable) and ``__err_c`` (the reason text, NULL when valid),
    computed in lockstep (``functions/dates.with_parsed_dates``). The
    source columns keep their raw values for the dead letter."""
    typed = df
    for c in STRING_COLUMNS:
        if c in typed.columns:
            typed = typed.withColumn(c, F.col(c).cast("string"))
    date_cols = [c for c in DATE_COLUMNS if c in typed.columns]
    if not date_cols:
        return typed
    return with_parsed_dates(typed, {c: (f"__date_{c}", f"__err_{c}") for c in date_cols})


def split_parsed(parsed: DataFrame, columns: list[str]) -> tuple[DataFrame, DataFrame]:
    """(clean, dead_letter) of a :func:`parse_types` frame whose source
    columns are ``columns``: the dead letter is a filter on the error
    columns, the clean frame a projection of the parsed dates.

    Persist ``parsed`` first (``pipeline.run_pipeline``): the two sinks
    then share one scan and one parse, and filters on the parsed columns
    apply to the cached rows. On an unpersisted parse, use
    :func:`validate_types`."""
    date_cols = [c for c in DATE_COLUMNS if f"__err_{c}" in parsed.columns]

    # one record per (row, failing mandatory field), original
    # (pre-parse) column values preserved, like the reference's copy
    # of the still-string frame
    dead_letters = [
        parsed.filter(F.col(f"__err_{c}").isNotNull()).select(
            *columns,
            F.col(f"__err_{c}").alias("Validation_Error"),
            F.lit(c).alias("Invalid_Field"),
        )
        for c in MANDATORY_DATE_COLUMNS
        if c in date_cols
    ]
    if dead_letters:
        dead_letter = dead_letters[0]
        for dl in dead_letters[1:]:
            dead_letter = dead_letter.unionByName(dl)
    else:
        dead_letter = parsed.filter(F.lit(False)).select(
            *columns,
            F.lit(None).cast("string").alias("Validation_Error"),
            F.lit(None).cast("string").alias("Invalid_Field"),
        )

    clean = parsed.withColumns({c: F.col(f"__date_{c}") for c in date_cols}).drop(
        *[f"__date_{c}" for c in date_cols], *[f"__err_{c}" for c in date_cols]
    )
    return clean, dead_letter


def _fenced(parsed: DataFrame) -> DataFrame:
    """``parsed`` with its ``__date_*``/``__err_*`` columns behind an
    always-true, non-foldable ``rand()`` guard. Catalyst pushes a filter
    on a parsed column down through the parse chain, inlining every
    step into one predicate too large to compile (the stage then runs
    interpreted); it pushes no filter through the non-deterministic
    projection that computes the guard."""
    kept = F.col("__fence") >= 0
    parsed_cols = [c for c in parsed.columns if c.startswith(("__date_", "__err_"))]
    return (
        parsed.withColumn("__fence", F.rand(seed=0))
        .withColumns({c: F.when(kept, F.col(c)) for c in parsed_cols})
        .drop("__fence")
    )


def validate_types(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Cast strings, parse dates, split into (clean, dead_letter).

    ``clean`` has mandatory/optional date columns as ``DateType`` (NULL
    where unparseable). ``dead_letter`` holds the original rows that
    failed a *mandatory* date parse, with ``Validation_Error`` (reason
    text) and ``Invalid_Field`` (column name) appended.

    Nothing is persisted here: each action on the two frames re-reads
    and re-parses ``df``. ``run_pipeline`` splits a persisted
    :func:`parse_types` frame instead.
    """
    return split_parsed(_fenced(parse_types(df)), df.columns)


def _non_empty(col: Column) -> Column:
    return col.isNotNull() & (col.cast("string") != "")


def get_valid_records(df: DataFrame) -> DataFrame:
    """P8 mandatory filter + warehouse rename + name normalization."""
    pred = F.lit(True)
    for c in MANDATORY_DATE_COLUMNS:
        if c in df.columns:
            pred = pred & F.col(c).isNotNull()
    for c in MANDATORY_COLUMNS:
        if c in MANDATORY_DATE_COLUMNS or c not in df.columns:
            continue
        pred = pred & _non_empty(F.col(c))
    out = df.filter(pred)
    renamed = {c: WAREHOUSE_COLUMN_MAP.get(c, c) for c in out.columns}
    out = out.withColumnsRenamed(renamed)
    return out.toDF(*[normalize_warehouse_name(c) for c in out.columns])


def to_warehouse(
    df: DataFrame,
    load_date: str | _dt.datetime | None = None,
) -> DataFrame:
    """Append warehouse lineage columns (``LOAD_DATE``, and
    ``SOURCE_FILE`` if the ingest didn't already stamp one) — parity
    with ``snowflake_connector.py:198-199`` and
    ``create_intermediate_table.sql:39``.

    ``load_date`` pins ingest time for deterministic tests; the
    production default is ``current_timestamp()``.

    The output is conformed to the full DDL-defined warehouse layout
    (``create_intermediate_table.sql:7-41``): columns absent from the
    source dialects come out as typed NULLs, column order matches the
    table.
    """
    out = df
    if "SOURCE_FILE" not in out.columns:
        out = out.withColumn("SOURCE_FILE", F.input_file_name())
    ld = (
        F.current_timestamp()
        if load_date is None
        else F.lit(str(load_date)).cast("timestamp")
    )
    out = out.withColumn("LOAD_DATE", ld)
    exprs = []
    for field in WAREHOUSE_SCHEMA.fields:
        if field.name in out.columns:
            exprs.append(F.col(field.name).cast(field.dataType))
        else:
            exprs.append(F.lit(None).cast(field.dataType).alias(field.name))
    return out.select(*exprs)

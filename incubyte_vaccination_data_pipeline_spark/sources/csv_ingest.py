"""CSV dialect ingest: header probe, grouped scan, synonym projection.

Parity targets in the reference (intshivam/incubyte-vaccination-data-pipeline):

- S1/S2 directory CSV scan + parse (``main.py:30-62``): every ``*.csv``
  under a directory, header row, values kept as strings.
- S3 pipe-frame handling (``data_validator.py:227-230``): if the first
  data row embeds a ``|H|...`` header record, that header is validated
  (warn-only) against the expected layout and every row whose first
  column starts with ``|`` is dropped.
- P1-P3 synonym projection (``data_validator.py:52-108``): keep only
  columns present in the dialect map, renamed to canonical names;
  synonym sets coalesce first-non-null in map order; unmapped columns
  (e.g. India's ``Free or Paid``) are dropped; a missing ``Country`` is
  synthesized from ``filename[:3].upper()``.

Scale note: ingest runs no Spark job. Each file's header line and first
data row are read through the Hadoop ``FileSystem`` on the driver (two
lines per file, no scan), files are grouped by (header, pipe-framed),
and each group is ONE multi-file scan with an explicit all-string
schema built from its header — no header-inference job, no per-file
probe. ``Source_File`` and the filename-derived ``Country`` come from
the scan's ``_metadata.file_name``, so a group of ten thousand files is
still one plan node. The groups union lazily via ``unionByName``; the
union has one branch per dialect, not per file.
"""

from __future__ import annotations

import csv
import logging
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubyte_vaccination_data_pipeline_spark.schema import (
    COLUMN_MAP,
    EXPECTED_PIPE_HEADER,
    MANDATORY_COLUMNS,
    OPTIONAL_COLUMNS,
)

logger = logging.getLogger(__name__)

#: scan-side name of the source file name (dropped by the projection)
_FILE = "__source_file"


def _file_name() -> Column:
    """The scanned file's name. ``_metadata.file_name`` is URI-encoded
    (a space reads ``%20``); a literal ``+`` is left as is in a URI
    path, so it is escaped before the form-style decode."""
    return F.url_decode(
        F.replace(F.col("_metadata.file_name"), F.lit("+"), F.lit("%2B"))
    )


def _head_lines(jvm, fs, path, n: int = 2) -> list[str]:
    """The first ``n`` non-blank lines of ``path`` (Spark's CSV reader
    skips blank lines, so these are its header and first data row)."""
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(path), "UTF-8")
    )
    lines: list[str] = []
    try:
        while len(lines) < n:
            line = reader.readLine()
            if line is None:
                break
            if line.strip():
                lines.append(line)
    finally:
        reader.close()
    if lines:  # Spark drops a UTF-8 byte-order mark before the header
        lines[0] = lines[0].removeprefix("\ufeff")
    return lines


def _fields(line: str) -> list[str]:
    return next(csv.reader([line]))


def _safe_header(cells: list[str]) -> list[str]:
    """Column names as Spark's CSV reader derives them from a header
    row (``CSVUtils.makeSafeHeader``, case-insensitive session): empty
    cells become ``_c<i>``, case-insensitive duplicates get their
    position appended."""
    lowered = [c.lower() for c in cells]
    dupes = {c for c in lowered if lowered.count(c) > 1}
    return [
        f"_c{i}" if not c else f"{c}{i}" if c.lower() in dupes else c
        for i, c in enumerate(cells)
    ]


def _pipe_framed(header: list[str], first_row: list[str], fname: str) -> bool:
    """S3 detection on the first data row: any cell starting ``|H|``
    marks a pipe-framed file; its header record is compared with the
    expected layout and a mismatch only warns."""
    framed = [c for c in first_row[: len(header)] if c.startswith("|H|")]
    if not framed:
        return False
    if framed[0] != EXPECTED_PIPE_HEADER:
        logger.warning(
            "Header does not match expected format in %s. Expected: %s Received: %s",
            fname,
            EXPECTED_PIPE_HEADER,
            framed[0],
        )
    return True


def _canonical_columns(df: DataFrame) -> tuple[list[Column], list[str]]:
    """P1/P2: one expression per canonical column present in ``df``,
    in first-occurrence order of the source columns."""
    exprs = []
    processed: list[str] = []
    for source_col in df.columns:
        target = COLUMN_MAP.get(source_col)
        if target is None or target in processed:
            continue
        sources = [s for s, t in COLUMN_MAP.items() if t == target and s in df.columns]
        if len(sources) > 1:
            expr = F.coalesce(*[df[s] for s in sources])
        else:
            expr = df[source_col]
        exprs.append(expr.alias(target))
        processed.append(target)
    return exprs, processed


def _check_columns(processed: list[str], strict: bool, fname: str | None = None) -> None:
    """Warn on missing mandatory columns (raise when ``strict``); note
    missing optional ones."""
    where = f" in {fname}" if fname else ""
    missing_mandatory = [c for c in MANDATORY_COLUMNS if c not in processed]
    if missing_mandatory:
        logger.warning("Missing mandatory columns%s: %s", where, missing_mandatory)
        if strict:
            raise ValueError(f"Missing mandatory columns{where}: {missing_mandatory}")
    missing_optional = [c for c in OPTIONAL_COLUMNS if c not in processed]
    if missing_optional:
        logger.info("Missing optional columns%s: %s", where, missing_optional)


def synonym_projection(
    df: DataFrame, filename: str | None = None, strict: bool = False
) -> DataFrame:
    """Project source-dialect columns onto the canonical schema.

    - output column order = first-occurrence order in the source file;
    - synonym sets (>1 source column -> one target) coalesce
      first-non-null in ``COLUMN_MAP`` insertion order
      (``data_validator.py:76-82``);
    - unmapped source columns are dropped;
    - absent ``Country`` is synthesized from the filename prefix;
    - missing mandatory columns warn (raise when ``strict``).
    """
    exprs, processed = _canonical_columns(df)
    out = df.select(*exprs)

    if "Country" not in processed and filename:
        country_code = os.path.basename(filename)[:3].upper()
        out = out.withColumn("Country", F.lit(country_code))
        processed.append("Country")

    _check_columns(processed, strict)
    return out


def _scan_group(
    spark: SparkSession, header: list[str], pipe: bool, paths: list[str]
) -> DataFrame:
    """One multi-file scan of same-dialect files, canonical columns
    plus ``Country`` (if the dialect lacks it) and ``Source_File``."""
    schema = T.StructType([T.StructField(c, T.StringType()) for c in header])
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .csv(paths)
        .select("*", _file_name().alias(_FILE))
    )
    if pipe:
        df = df.filter(~F.coalesce(df[header[0]].startswith("|"), F.lit(False)))
    exprs, processed = _canonical_columns(df)
    if "Country" not in processed:
        exprs.append(F.upper(F.substring(F.col(_FILE), 1, 3)).alias("Country"))
    return df.select(*exprs, F.col(_FILE).alias("Source_File"))


def load_source_data(
    spark: SparkSession, data_dir: str, strict: bool = False
) -> DataFrame:
    """S1+S3+P1-P3 composed over every ``*.csv`` in ``data_dir``,
    unioned by name with missing columns null-filled
    (``pd.concat`` parity, ``main.py:59-60``). Builds the plan without
    running a Spark job (see the module's scale note)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(data_dir)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(root):
        raise FileNotFoundError(f"no such directory: {data_dir}")
    statuses = sorted(
        (s for s in fs.listStatus(root)
         if s.isFile() and s.getPath().getName().lower().endswith(".csv")),
        key=lambda s: s.getPath().getName(),
    )
    if not statuses:
        raise FileNotFoundError(f"no CSV files under {data_dir}")

    groups: dict[tuple[tuple[str, ...], bool], list[str]] = {}
    for status in statuses:
        path = status.getPath()
        fname = path.getName()
        lines = _head_lines(jvm, fs, path)
        if not lines:
            logger.warning("Skipping empty CSV file: %s", fname)
            continue
        header = _safe_header(_fields(lines[0]))
        pipe = len(lines) > 1 and _pipe_framed(header, _fields(lines[1]), fname)
        groups.setdefault((tuple(header), pipe), []).append(path.toString())
        # the header fixes the projection, so the column checks are
        # per-file without reading past the header
        processed = [COLUMN_MAP[c] for c in header if c in COLUMN_MAP]
        _check_columns(processed + ["Country"], strict, fname)
    if not groups:
        raise FileNotFoundError(f"only empty CSV files under {data_dir}")

    frames = [
        _scan_group(spark, list(header), pipe, paths)
        for (header, pipe), paths in groups.items()
    ]
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out

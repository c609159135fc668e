"""Multi-format date parsing as native Column expressions.

Behavioral parity with the reference's ``src/utils/date_parser.py:12-134``
(intshivam/incubyte-vaccination-data-pipeline), re-expressed as a single
JVM-side expression tree — no Python in the hot path, so the cascade
runs inside whole-stage codegen and scales to 100 TB.

Reference semantics implemented faithfully:

- empty/blank input -> error "Empty date string" (date_parser.py:27-28).
- float-form normalization: ``"20220301.0"`` -> ``"20220301"``
  (date_parser.py:33-37).
- **compact-digit branch** (date_parser.py:41-77): if the input contains
  >= 6 digits after stripping non-digits, it is parsed positionally —
  7 digits as M/DD/YYYY, otherwise MM/DD/ + rest-as-year — with 2-digit
  years mapped to 2000+yy and range checks month 1-12, day >= 1,
  year 1900-2100, day <= days-in-month. Validation failures raise the
  reference's "Invalid month/day/year" errors *without* falling through
  to the format cascade. This means e.g. ISO ``2021-13-13`` (and any
  8-digit ``yyyy-...`` string) fails with "Invalid month: 20" — the
  strptime cascade below is only reachable for inputs with < 6 digits,
  exactly as in the reference.
- **format cascade** (date_parser.py:85-128) for < 6-digit inputs, after
  stripping chars outside ``[0-9/-]``: formats tried in order
  M/d/yyyy, yyyy/M/d, d/M/yyyy, yyyy-M-d, M-d-yyyy, d-M-yyyy,
  yyyyMMdd, MMddyyyy, ddMMyyyy; first parse whose year is in
  [1900, 2100] wins.

Documented divergences (SURVEY.md §2.12, §7.3):

- correct Gregorian leap rule (the reference's ``year % 4`` bug accepts
  1900-02-29 / 2100-02-29; this engine rejects them).
- error *categories and field positions* are stable, but free-text
  detail of cascade failures is not byte-identical.
- SQL NULL input maps to "Empty date string" (pandas ``NaN`` stringifies
  to ``"nan"`` in the reference and fails later with "Unable to parse").
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column
from pyspark.sql import functions as F

#: strptime cascade (date_parser.py:85-100), java.time spellings.
CASCADE_FORMATS = [
    "M/d/yyyy",
    "yyyy/M/d",
    "d/M/yyyy",
    "yyyy-M-d",
    "M-d-yyyy",
    "d-M-yyyy",
    "yyyyMMdd",
    "MMddyyyy",
    "ddMMyyyy",
]


def _normalized(col: Column) -> Column:
    """Trim + float-form normalization ("20220301.0" -> "20220301")."""
    s = F.trim(col.cast("string"))
    return F.when(
        s.rlike(r"^\d+\.\d+$"), F.regexp_extract(s, r"^(\d+)\.", 1)
    ).otherwise(s)


def parse_date_struct(col: Column) -> Column:
    """Parse ``col`` per the reference cascade.

    Returns ``struct(date: date, error: string)`` — exactly one of the
    two fields is non-null.
    """
    s = _normalized(col)
    digits = F.regexp_replace(s, r"[^0-9]", "")
    nd = F.length(digits)

    # ---- compact-digit branch (>= 6 digits) ------------------------------
    month = F.when(nd == 7, F.substring(digits, 1, 1)).otherwise(
        F.substring(digits, 1, 2)
    ).cast("int")
    day = F.when(nd == 7, F.substring(digits, 2, 2)).otherwise(
        F.substring(digits, 3, 2)
    ).cast("int")
    raw_year = F.when(nd == 7, F.substring(digits, 4, 4)).otherwise(
        # year := all remaining digits (date_parser.py:53); > 4 digits
        # simply fails the range check, as in the reference
        F.substring(digits, 5, 16)
    ).cast("int")
    # > 9-digit years overflow the int cast to NULL under non-ANSI eval;
    # coalesce to a -1 sentinel AND keep the 2-digit-year adjustment off
    # negatives (else -1 + 2000 = 1999 would sail through the range
    # check and a 15-digit string would "parse") so they fail as
    # Invalid year, like the reference — whose error text prints the
    # full huge number where we print -1 (documented divergence; same
    # classification).
    raw_year = F.coalesce(raw_year, F.lit(-1))
    year = F.when((raw_year >= 0) & (raw_year < 100), raw_year + 2000).otherwise(
        raw_year
    )

    compact_date = F.try_to_date(
        F.format_string("%04d-%02d-%02d", year, month, day), "yyyy-MM-dd"
    )
    max_day = F.dayofmonth(F.last_day(compact_date_base := F.make_date(year, month, F.lit(1))))
    _ = compact_date_base  # named only for readability

    compact_error = (
        F.when(
            (month < 1) | (month > 12),
            F.format_string("Invalid month: %d (must be between 1 and 12)", month),
        )
        .when(day < 1, F.format_string("Invalid day: %d (must be greater than 0)", day))
        .when(
            (year < 1900) | (year > 2100),
            F.format_string("Invalid year: %d (must be between 1900 and 2100)", year),
        )
        .when(
            compact_date.isNull(),
            F.format_string(
                "Invalid day: %d (maximum %d days in month %d)", day, max_day, month
            ),
        )
    )

    # ---- strptime cascade (< 6 digits) -----------------------------------
    cleaned = F.regexp_replace(s, r"[^0-9/\-]", "")
    candidates = [F.try_to_date(cleaned, fmt) for fmt in CASCADE_FORMATS]
    in_range = [
        F.when(F.year(c).between(1900, 2100), c) for c in candidates
    ]
    cascade_date = F.coalesce(*in_range)
    cascade_error = F.format_string(
        "Unable to parse date '%s': format not recognized", cleaned
    )

    empty = s.isNull() | (s == "")
    date_out = (
        F.when(empty, F.lit(None).cast("date"))
        .when(nd >= 6, F.when(compact_error.isNull(), compact_date))
        .otherwise(cascade_date)
    )
    error_out = (
        F.when(empty, F.lit("Empty date string"))
        .when(nd >= 6, compact_error)
        .otherwise(F.when(cascade_date.isNull(), cascade_error))
    )
    return F.struct(date_out.alias("date"), error_out.alias("error"))


#: temp columns of one parsed column (see :func:`_tmp`)
_TEMP_NAMES = [
    "s", "digits", "cleaned", "empty", "nd", "m", "dd", "yraw", "y",
    "cd", "maxd", "cerr", "casc",
] + [f"c{i}" for i in range(len(CASCADE_FORMATS))]


def _tmp(k: int, name: str) -> str:
    """Temp-column name ``name`` of the ``k``-th parsed column:
    ``_pd_<name>`` for the first, ``_pd<k>_<name>`` for the others."""
    return f"_pd{k or ''}_{name}"


def _t(k: int, name: str) -> Column:
    return F.col(_tmp(k, name))


def _lockstep(df, n: int, step):
    """One projection holding ``step(k)``'s columns for each of ``n``
    parsed columns: n date columns cost the projections of one."""
    return df.withColumns({name: expr for k in range(n) for name, expr in step(k).items()})


def _digits_step(k: int) -> dict[str, Column]:
    ps = _t(k, "s")
    return {
        _tmp(k, "digits"): F.regexp_replace(ps, r"[^0-9]", ""),
        _tmp(k, "cleaned"): F.regexp_replace(ps, r"[^0-9/\-]", ""),
        _tmp(k, "empty"): ps.isNull() | (ps == ""),
    }


def _ndigits_step(k: int) -> dict[str, Column]:
    return {_tmp(k, "nd"): F.length(_t(k, "digits"))}


def _fields_step(k: int) -> dict[str, Column]:
    dg, nd = _t(k, "digits"), _t(k, "nd")
    return {
        # try_cast: these evaluate for EVERY row (not CASE-guarded
        # like the single-expression form), so ''/overflow must null
        # instead of throwing under the driver's ANSI session
        _tmp(k, "m"): F.when(nd == 7, F.substring(dg, 1, 1))
        .otherwise(F.substring(dg, 1, 2))
        .try_cast("int"),
        _tmp(k, "dd"): F.when(nd == 7, F.substring(dg, 2, 2))
        .otherwise(F.substring(dg, 3, 2))
        .try_cast("int"),
        _tmp(k, "yraw"): F.coalesce(
            F.when(nd == 7, F.substring(dg, 4, 4))
            .otherwise(F.substring(dg, 5, 16))
            .try_cast("int"),
            F.lit(-1),
        ),
    }


def _year_step(k: int) -> dict[str, Column]:
    yraw = _t(k, "yraw")
    # guard the 2-digit-year adjustment off the -1 overflow sentinel
    # (see parse_date_struct: -1 + 2000 would pass the range check)
    return {
        _tmp(k, "y"): F.when((yraw >= 0) & (yraw < 100), yraw + 2000).otherwise(yraw)
    }


def _compact(k: int) -> Column:
    return ~_t(k, "empty") & (_t(k, "nd") >= 6)


def _compact_date_step(k: int) -> dict[str, Column]:
    # branch guards: chained columns would otherwise evaluate for EVERY
    # row (the single-expression form got laziness from CASE nesting);
    # guarding keeps the compact branch from paying the 9-format
    # cascade and vice versa — measured 2x on the compact-heavy mix.
    m, dd, y = _t(k, "m"), _t(k, "dd"), _t(k, "y")
    return {
        _tmp(k, "cd"): F.when(
            _compact(k),
            F.try_to_date(F.format_string("%04d-%02d-%02d", y, m, dd), "yyyy-MM-dd"),
        ),
        _tmp(k, "maxd"): F.when(
            _compact(k), F.dayofmonth(F.last_day(F.make_date(y, m, F.lit(1))))
        ),
    }


def _compact_error_step(k: int) -> dict[str, Column]:
    return {_tmp(k, "cerr"): F.when(_compact(k), _compact_error(k))}


def _cascade_step(k: int) -> dict[str, Column]:
    branch = ~_t(k, "empty") & (_t(k, "nd") < 6)
    return {
        _tmp(k, f"c{i}"): F.when(branch, F.try_to_date(_t(k, "cleaned"), fmt))
        for i, fmt in enumerate(CASCADE_FORMATS)
    }


def _cascade_pick_step(k: int) -> dict[str, Column]:
    cands = [_t(k, f"c{i}") for i in range(len(CASCADE_FORMATS))]
    return {
        _tmp(k, "casc"): F.coalesce(
            *[F.when(F.year(c).between(1900, 2100), c) for c in cands]
        )
    }


_PREFIX_STEPS = (_digits_step, _ndigits_step, _fields_step, _year_step)
_PARSE_STEPS = (_compact_date_step, _compact_error_step, _cascade_step, _cascade_pick_step)


def _parse_prefix(df, srcs: list[str]):
    """Shared normalization/positional-field prefix of the cascade, as
    chained projections (``_pd*_`` temp columns)."""
    out = df.withColumns({_tmp(k, "s"): _normalized(F.col(c)) for k, c in enumerate(srcs)})
    for step in _PREFIX_STEPS:
        out = _lockstep(out, len(srcs), step)
    return out


def _compact_error(k: int = 0) -> Column:
    """Compact-branch error renderer over the ``k``-th column's temps."""
    m, dd, y = _t(k, "m"), _t(k, "dd"), _t(k, "y")
    cd, maxd = _t(k, "cd"), _t(k, "maxd")
    return (
        F.when(
            (m < 1) | (m > 12),
            F.format_string("Invalid month: %d (must be between 1 and 12)", m),
        )
        .when(dd < 1, F.format_string("Invalid day: %d (must be greater than 0)", dd))
        .when(
            (y < 1900) | (y > 2100),
            F.format_string("Invalid year: %d (must be between 1900 and 2100)", y),
        )
        .when(
            cd.isNull(),
            F.format_string(
                "Invalid day: %d (maximum %d days in month %d)", dd, maxd, m
            ),
        )
    )


def dead_letter_frame(df, src_col: str, err_name: str = "validation_error"):
    """Rows of ``df`` whose ``src_col`` fails the cascade, annotated
    with the reference's reason text — built as a UNION of the three
    failure classes (empty / compact-invalid / cascade-unparseable).

    Each branch's plan contains only its own branch of the parser, so
    every whole-stage method compiles (the all-in-one form, with or
    without chaining, exceeds janino's 64 KB ``processNext`` limit and
    falls back to interpreted eval).

    The shared normalization prefix is persisted ONCE before the
    branch split: the three union branches each reference it, and
    Spark duplicates referenced subtrees — without the shared cache
    the source was scanned and the regex-heavy prefix computed three
    times per execution. The persist is LAZY (``MEMORY_AND_DISK``):
    building the frame has no side effect, the first action populates
    the cache and the remaining branches read it, and lineage stays
    intact so an executor loss recomputes the lost partitions instead
    of failing the job (unlike ``localCheckpoint``, which severs
    lineage into non-fault-tolerant executor storage — wrong at the
    100 TB design point for a full-width prefix). Each branch still
    compiles its own whole-stage method, so the janino-limit rationale
    for the union is unchanged.

    The cache lives as long as the session's cache entry for the
    prefix plan: build this frame once per input and reuse it (the
    catalog memoizes it per session and corpus). The pipeline does not
    use it: ``operators.validate`` filters the error column of one
    parse that ``run_pipeline`` persists and releases.
    """
    orig = df.columns
    base = _parse_prefix(df, [src_col]).persist(StorageLevel.MEMORY_AND_DISK)
    empty, nd = F.col("_pd_empty"), F.col("_pd_nd")

    b_empty = base.filter(empty).select(
        *orig, F.lit("Empty date string").alias(err_name)
    )

    m, dd, y = F.col("_pd_m"), F.col("_pd_dd"), F.col("_pd_y")
    compact = base.filter(~empty & (nd >= 6)).withColumns(
        {
            "_pd_cd": F.try_to_date(
                F.format_string("%04d-%02d-%02d", y, m, dd), "yyyy-MM-dd"
            ),
            "_pd_maxd": F.dayofmonth(F.last_day(F.make_date(y, m, F.lit(1)))),
        }
    )
    # filter on the SMALL validity predicate (attribute comparisons +
    # one try_to_date after pushdown substitution) and render the error
    # text only for surviving rows — filtering on the rendered error
    # would push the whole renderer into the scan predicate and blow
    # the codegen method limit again
    cd = F.col("_pd_cd")
    bad_compact = (
        (m < 1) | (m > 12) | (dd < 1) | (y < 1900) | (y > 2100) | cd.isNull()
    )
    # __fence (rand) stops predicate pushdown from substituting the
    # whole projection chain into a scan-level predicate. The disjunct
    # must be non-foldable: rand() is non-nullable so IS NULL would
    # constant-fold away and re-enable pushdown; "< -1" is never true
    # but not provably so. Per-branch the fenced stage fits the
    # codegen method limit
    b_compact = (
        compact.withColumn("__fence", F.rand(seed=0))
        .filter(bad_compact | (F.col("__fence") < -1))
        .select(*orig, _compact_error().alias(err_name))
    )

    casc = base.filter(~empty & (nd < 6)).withColumns(
        {
            f"_pd_c{i}": F.try_to_date(F.col("_pd_cleaned"), fmt)
            for i, fmt in enumerate(CASCADE_FORMATS)
        }
    )
    casc_date = F.coalesce(
        *[
            F.when(F.year(F.col(f"_pd_c{i}")).between(1900, 2100), F.col(f"_pd_c{i}"))
            for i in range(len(CASCADE_FORMATS))
        ]
    )
    b_casc = (
        casc.withColumn("_pd_casc", casc_date)
        .withColumn("__fence", F.rand(seed=0))
        .filter(F.col("_pd_casc").isNull() | (F.col("__fence") < -1))
        .select(
            *orig,
            F.format_string(
                "Unable to parse date '%s': format not recognized",
                F.col("_pd_cleaned"),
            ).alias(err_name),
        )
    )
    return b_empty.unionByName(b_compact).unionByName(b_casc)


def with_parsed_dates(df, targets: dict[str, tuple[str, str]]):
    """Append a parsed-date and an error column per source column,
    ``targets = {src_col: (date_name, err_name)}``, with the cascade
    semantics of :func:`parse_date_struct` — built as chained
    projections that advance every column in lockstep: one
    ``withColumns`` per step across all columns, so the plan has the
    same 11 projections for three date columns as for one.

    The single-expression form repeats the normalization/digit
    subtrees at every use site; the generated Java method exceeds
    janino's 64 KB limit and Spark silently falls back to interpreted
    evaluation (~6x slower). Chained projections keep each intermediate
    as a codegen local reused by the next step (each temp is referenced
    more than once, so CollapseProject leaves the steps in place).
    A filter on an error column must not be pushed into the chain (it
    would inline the whole renderer into one predicate): filter a
    persisted parse, as ``run_pipeline`` does, or use
    :func:`dead_letter_frame`.
    """
    srcs = list(targets)
    out = _parse_prefix(df, srcs)
    for step in _PARSE_STEPS:
        out = _lockstep(out, len(srcs), step)
    results: dict[str, Column] = {}
    for k, (date_name, err_name) in enumerate(targets.values()):
        empty, nd = _t(k, "empty"), _t(k, "nd")
        cd, cerr, casc = _t(k, "cd"), _t(k, "cerr"), _t(k, "casc")
        results[date_name] = (
            F.when(empty, F.lit(None).cast("date"))
            .when(nd >= 6, F.when(cerr.isNull(), cd))
            .otherwise(casc)
        )
        results[err_name] = (
            F.when(empty, F.lit("Empty date string"))
            .when(nd >= 6, cerr)
            .otherwise(
                F.when(
                    casc.isNull(),
                    F.format_string(
                        "Unable to parse date '%s': format not recognized",
                        _t(k, "cleaned"),
                    ),
                )
            )
        )
    out = out.withColumns(results)
    return out.drop(*[_tmp(k, n) for k in range(len(srcs)) for n in _TEMP_NAMES])


def with_parsed_date(
    df,
    src_col: str,
    date_name: str = "parsed_date",
    err_name: str = "parse_error",
):
    """One-column :func:`with_parsed_dates`: append ``date_name`` /
    ``err_name`` parsed from ``src_col``."""
    return with_parsed_dates(df, {src_col: (date_name, err_name)})


def parse_date(col: Column) -> Column:
    """Parsed date, or NULL when invalid (to_date-style semantics)."""
    return parse_date_struct(col)["date"]


def parse_date_error(col: Column) -> Column:
    """Validation-error message, or NULL when the date is valid.

    Mirrors ``validate_date_with_reason`` (data_validator.py:146-151):
    the dead-letter channel annotates quarantined rows with this text.
    """
    return parse_date_struct(col)["error"]

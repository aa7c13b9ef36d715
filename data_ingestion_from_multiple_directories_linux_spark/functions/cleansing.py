"""Data-cleansing expressions (SURVEY.md §2.3 F6–F8, §2.9 C7).

The reference cleanses every file in pandas before load:
* empty/whitespace/'null' strings → NULL (file_loader.py:477-496);
* drop rows that are entirely null (file_loader.py:629; the engine flags
  them inline, ``ingest.engine.cleanse_and_split``);
* per-column date validation, collecting bad rows for quarantine
  (file_loader.py:498-521; dsd per-value variant dsd_loader.py:625-633).

Here each is a Column expression / DataFrame transform so the whole
cleansing pass is one codegen'd projection — no row loop, no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: String sentinels the reference rewrites to NULL (file_loader.py:489-491).
NULL_SENTINELS: tuple[str, ...] = ("", " ", "null")


def normalize_null_sentinels(col: Column | str) -> Column:
    """''/' '/'null' → NULL; everything else passes through."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isin(*NULL_SENTINELS), F.lit(None)).otherwise(c)


def normalize_nulls(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Apply :func:`normalize_null_sentinels` to every string column."""
    string_cols = {f.name for f in df.schema.fields if f.dataType.simpleString() == "string"}
    targets = [c for c in (columns or df.columns) if c in string_cols]
    return df.select(
        *[
            normalize_null_sentinels(c).alias(c) if c in targets else F.col(c)
            for c in df.columns
        ]
    )


def try_parse_timestamp(col: Column | str) -> Column:
    """Parse a string to timestamp, NULL on failure (never raises).

    Engine validity predicate for quarantine (SURVEY.md §7 "what's hard"):
    a value is a *bad date* iff it is non-null and ``try_cast`` to
    timestamp yields NULL. This replaces pandas ``to_datetime(errors=
    'raise')`` + exception bookkeeping with one vectorized expression.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("timestamp")


def is_bad_date(col: Column | str) -> Column:
    """True iff the value is present but not parseable as a timestamp."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & try_parse_timestamp(c).isNull()


def discover_date_columns(columns: list[str]) -> list[str]:
    """Date-column discovery rule from the reference (file_loader.py:499;
    dsd_loader.py:490): name starts with ``date_`` or ends with ``_date``."""
    return [c for c in columns if c.startswith("date_") or c.endswith("_date")]


def any_bad_date(columns: list[str]) -> Column:
    """Row-level quarantine verdict: any discovered date column is bad.

    The reference flags the whole record if any date value fails
    (dsd_loader.py:646 skips the record; file_loader.py:624-637 drops the
    flagged indexes).
    """
    if not columns:
        return F.lit(False)
    verdict = F.lit(False)
    for c in columns:
        verdict = verdict | is_bad_date(c)
    return verdict


#: largest finite IEEE-754 double — the BETWEEN bound is_finite uses
DBL_MAX = 1.7976931348623157e308

#: DuckDB twin of :func:`is_finite` for oracle SQL (native isfinite —
#: NULL yields NULL, so a WHERE drops NULLs exactly like the Column)
SQL_IS_FINITE = "isfinite({c})"


def is_finite(col: Column | str) -> Column:
    """True iff the value is a finite double — false for NaN and ±Inf,
    NULL for NULL.

    One BETWEEN suffices because Spark orders NaN above +Infinity in
    comparisons (so ``NaN <= DBL_MAX`` is false) and ±Inf sit outside
    ±DBL_MAX; DuckDB shares the NaN-is-largest convention, so the
    oracle twin (``SQL_IS_FINITE``, native ``isfinite``) agrees on
    every input. The analytics contract (SURVEY.md §2.12a): value
    columns feeding quantized aggregates must be finite — nonfinite
    floats are cleansed to NULL at ingest via :func:`null_nonfinite`,
    the float analogue of the reference's NULL-on-bad-date rule
    (file_loader.py:498-521)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.between(-DBL_MAX, DBL_MAX)


def null_nonfinite(col: Column | str) -> Column:
    """NaN/±Inf → NULL; finite values pass through unchanged.

    The float twin of :func:`try_parse_timestamp`'s NULL-on-bad-value
    contract: a nonfinite float carries no usable measurement, and
    letting it flow into DECIMAL-quantized sums or BIGINT bucket casts
    aborts the whole job under ANSI (one corrupt row out of 10^12
    kills a 100 TB aggregate). Cleansing it to NULL at ingest keeps
    every downstream NULL contract (already audited per query) doing
    the right thing."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(is_finite(c), c)


def sanitize_nonfinite(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Apply :func:`null_nonfinite` to every float/double column, and
    element-wise to every array<float/double> column (a NaN element
    becomes a NULL element, which the similarity-family validation
    gate then excludes vector-wise).

    Pass ``columns`` to scope; defaults to every float-typed column.
    An explicitly-requested column that is missing from the schema or
    not float-typed raises ValueError — a typo'd name must not become
    a silent no-op pass-through that the caller believes was cleansed.
    An explicit EMPTY list means "touch nothing" (a no-op projection),
    NOT "sanitize everything": a caller whose computed column list
    comes out empty must not get whole-table cleansing by accident
    (ADVICE r07 — ``columns or df.columns`` silently conflated the
    two). One codegen'd projection — no shuffle, no UDF."""
    scalar = {
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString() in ("float", "double")
    }
    arrays = {
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString() in ("array<float>", "array<double>")
    }
    if columns is not None:
        bad = [c for c in columns if c not in scalar and c not in arrays]
        if bad:
            raise ValueError(
                f"sanitize_nonfinite: not float/double or array thereof: {bad}"
            )
    targets = set(df.columns if columns is None else columns)
    out = []
    for c in df.columns:
        if c in targets and c in scalar:
            out.append(null_nonfinite(c).alias(c))
        elif c in targets and c in arrays:
            out.append(
                F.transform(
                    F.col(c),
                    lambda x: F.when(x.between(-DBL_MAX, DBL_MAX), x),
                ).alias(c)
            )
        else:
            out.append(F.col(c))
    return df.select(*out)


#: |value| bound for the fixed-point quantization paths (milli/micro
#: units summed or multiplied as BIGINT/DECIMAL): inside it every
#: quantized product and sum fits its declared integer width; outside
#: it the engines FAIL DIFFERENTLY (Spark's floor(double→long)
#: silently saturates at ±LONG_MIN/MAX, DuckDB's BIGINT cast aborts —
#: nonfinite-float-sweep finding), so portable operators must exclude
#: the regime, not ride it. NaN/±Inf fail the < too (both engines
#: order NaN above everything), so one predicate covers the whole
#: dirty-float surface.
QUANT_DOMAIN = 10_000.0

#: DuckDB twin — NULL rows kept (they carry the per-query NULL
#: contract), out-of-domain magnitudes excluded. Derived from
#: QUANT_DOMAIN so the pair cannot desynchronize; the oracle strings
#: that inline the literal are pinned to this constant by
#: tests/test_functions.py::test_quant_domain_oracle_literals.
SQL_IN_QUANT_DOMAIN = f"({{c}} IS NULL OR abs({{c}}) < {QUANT_DOMAIN:g})"


def in_quant_domain(col: Column | str) -> Column:
    """Spark twin of ``SQL_IN_QUANT_DOMAIN``."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | (F.abs(c) < QUANT_DOMAIN)

"""Timestamp functions — native (Catalyst) re-expressions of the
reference's time utilities.

- ``normalize_iso_col`` ≡ ``normalize_iso_time`` (reference:
  app/utils/time_converter.py:7-43): fractional seconds padded/rounded
  to exactly 6 digits, with the reference's 1000000→999999 clamp
  (time_converter.py:36-37).
- ``iso_to_parts_cols`` / ``derive_time_parts`` ≡ ``iso_to_dict``
  (time_converter.py:46-131): (datetime 'YYYY-MM-DD HH:MM:SS',
  microseconds int, month 'YYYY-MM-01') — plus the timezone
  expectation check in error/warning/ignore tri-mode (:105-120).

All pure Column expressions: whole-stage-codegen'd, no Python.
Session timezone must be UTC (session.get_spark pins it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DATETIME_FMT = "yyyy-MM-dd HH:mm:ss"


def normalize_iso_col(col: Column) -> Column:
    """Normalize an ISO-8601 string's fractional seconds to exactly 6
    digits. ≤6 digits → zero-padded; 7-9 digits → half-up rounded to
    micros, clamped at 999999; no fraction → '.000000'. A trailing 'Z'
    is preserved. Inputs with >9 fraction digits are returned as NULL
    (the reference raises — error-mode filtering is the caller's
    choice, SURVEY.md §7.4)."""
    has_z = col.endswith("Z")
    stripped = F.when(has_z, F.substring(col, 1, F.length(col) - 1)).otherwise(col)
    base = F.substring_index(stripped, ".", 1)
    has_frac = stripped.contains(".")
    frac = F.when(has_frac, F.substring_index(stripped, ".", -1)).otherwise(F.lit(""))
    nfrac = F.length(frac)
    # ≤6: right-pad. 7-9: round nanos→micros half-up, clamp at 999999.
    nanos = F.rpad(frac, 9, "0").cast("long")
    rounded = F.floor((nanos + 500) / 1000)
    clamped = F.least(rounded, F.lit(999999))
    frac6 = (
        F.when(nfrac <= 6, F.rpad(frac, 6, "0"))
        .when(nfrac <= 9, F.lpad(clamped.cast("string"), 6, "0"))
        .otherwise(F.lit(None))
    )
    out = F.concat(base, F.lit("."), frac6)
    out = F.when(frac6.isNull(), F.lit(None)).otherwise(out)
    return F.when(has_z, F.concat(out, F.lit("Z"))).otherwise(out)


def extract_offset(col: Column) -> Column:
    """The UTC-offset suffix of an ISO string: 'Z', '+HH:MM', '-HH:MM',
    or '' when absent (naive timestamp)."""
    return F.regexp_extract(col, r"(Z|[+-]\d{2}:?\d{2})$", 1)


def iso_to_parts_cols(
    col: Column, expected_offset: str | None = None
) -> dict[str, Column]:
    """Decompose an ISO-8601 string into the reference's
    ``iso_to_dict`` parts. ``to_timestamp`` converts any offset to the
    UTC session zone (≡ the reference's offset adjustment,
    time_converter.py:105-120). When ``expected_offset`` is given, an
    ``offset_ok`` boolean is added — callers implement the reference's
    error/warning/ignore tri-mode on top of it."""
    ts = F.to_timestamp(col)
    parts = {
        "datetime_s": F.date_format(ts, DATETIME_FMT),
        "micros": (F.unix_micros(ts) % 1000000).cast("long"),
        "month_s": F.date_format(F.date_trunc("month", ts), "yyyy-MM-dd"),
    }
    if expected_offset is not None:
        parts["offset_ok"] = extract_offset(col) == F.lit(expected_offset)
    return parts


class UnexpectedOffsetError(ValueError):
    """≡ the reference's UnexpectedTimezoneError (time_converter.py:105-120)."""


def check_expected_offset(
    df: DataFrame, iso_col: str, expected_offset: str, mode: str = "error"
) -> DataFrame:
    """The reference's timezone-expectation tri-mode
    (time_converter.py:105-120) at DataFrame scope:

    - ``error``   — raise UnexpectedOffsetError if ANY row's UTC-offset
      suffix differs from ``expected_offset`` (one count aggregate —
      a full-plan action, so run it before the main write);
    - ``warning`` — attach a boolean ``offset_ok`` column and leave
      filtering to the caller;
    - ``ignore``  — return the input unchanged.
    """
    if mode == "ignore":
        return df
    ok = extract_offset(F.col(iso_col)) == F.lit(expected_offset)
    if mode == "warning":
        return df.withColumn("offset_ok", ok)
    if mode == "error":
        bad = df.filter(~ok).count()
        if bad:
            raise UnexpectedOffsetError(
                f"{bad} rows of {iso_col!r} have an offset != {expected_offset!r}"
            )
        return df
    raise ValueError(f"unknown mode {mode!r} (error|warning|ignore)")


def check_expected_offset_observed(
    df: DataFrame, iso_col: str, expected_offset: str
):
    """Single-pass variant of ``mode='error'``: instead of a dedicated
    count() action BEFORE the main write (two full scans), piggyback the
    offset validation on whatever action the caller runs next via
    ``df.observe`` — the metric is computed inside the same job at zero
    extra scan cost.

    Returns ``(observed_df, raise_if_bad)``: run your action on
    ``observed_df`` (write, count, collect, …), then call
    ``raise_if_bad()`` — it raises :class:`UnexpectedOffsetError` with
    the offending row count if any row's offset differed. Note the
    inversion vs mode='error': the data has already landed when the
    check fires, so use this where the sink is staged/atomic (e.g. the
    stage-then-swap writers) and the swap can be skipped on failure.
    """
    from pyspark.sql import Observation

    obs = Observation()
    ok = extract_offset(F.col(iso_col)) == F.lit(expected_offset)
    observed = df.observe(
        obs, F.sum((~ok).cast("long")).alias("bad_offsets")
    )

    def raise_if_bad() -> None:
        bad = obs.get["bad_offsets"] or 0
        if bad:
            raise UnexpectedOffsetError(
                f"{bad} rows of {iso_col!r} have an offset != {expected_offset!r}"
            )

    return observed, raise_if_bad


def derive_time_parts(df: DataFrame, ts_col: str, prefix: str = "") -> DataFrame:
    """Attach (datetime_s, time_mcs, month_) derived from a timestamp
    column — the native rewrite of the flagship pipeline's
    additional_fields stage (reference runner
    elasticsearch_to_postgresql.py:78-116 + time_converter.py:46-131)."""
    ts = F.col(ts_col)
    return (
        df.withColumn(prefix + "datetime_s", F.date_format(ts, DATETIME_FMT))
        .withColumn(prefix + "time_mcs", (F.unix_micros(ts) % 1000000).cast("long"))
        .withColumn(prefix + "month_", F.date_format(F.date_trunc("month", ts), "yyyy-MM-dd"))
    )

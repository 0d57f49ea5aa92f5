"""Value sanitization — reference: services/transformers/
tsv_converter.py:83-94. Tabs/newlines → single space; nested values →
JSON strings; over-length JSON flagged (warn threshold
max_json_length=100000, tsv_converter.py:51)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def sanitize_scalar(col: Column) -> Column:
    """Replace tab/newline/CR with a single space (TSV-safety rule)."""
    return F.regexp_replace(col, "[\\t\\n\\r]", " ")


def with_json_length_flag(
    df: DataFrame, col_name: str, max_json_length: int = 100000, flag_col: str = "json_too_long"
) -> DataFrame:
    """Attach the over-length warning flag instead of log-warning
    side effects — downstream decides to drop/route."""
    c = F.col(col_name)
    as_str = c if isinstance(df.schema[col_name].dataType, T.StringType) else F.to_json(c)
    return df.withColumn(flag_col, F.length(as_str) > max_json_length)

"""Cleaning layer — trim / coerce / resolve / validate.

Re-expresses the reference's defensive pandas cleaning (SURVEY.md §2.2,
reference lambda_functions/report_processor.py:142-158, :199-236,
Task_3_report.ipynb cells 26730071/419d6a47/4678fe79) as pure
``DataFrame -> DataFrame`` transforms. All of it is Catalyst-native:
trims and casts stay inside whole-stage codegen; only
``resolve_column`` / ``require_columns`` touch driver-side metadata
(``df.columns``), never data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def strip_column_names(df: DataFrame) -> DataFrame:
    """Trim whitespace-padded header names (the BLS raw TSV ships headers
    like ``'series_id        '`` / ``'       value'`` — reference
    report_processor.py:142)."""
    return df.toDF(*[c.strip() for c in df.columns])


def trim_string_columns(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Trim every string column (reference report_processor.py:145-147
    trims all object-dtype columns)."""
    targets = set(
        columns
        if columns is not None
        else [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    )
    return df.select(
        *[F.trim(F.col(c)).alias(c) if c in targets else F.col(c) for c in df.columns]
    )


def coerce_numeric(df: DataFrame, columns: dict[str, str]) -> DataFrame:
    """Cast columns to numeric types, yielding null on unparseable input —
    parity with ``pd.to_numeric(errors='coerce')`` (reference notebook cell
    419d6a47). Uses ``try_cast`` so the semantics hold even under ANSI mode.

    ``columns`` maps column name -> Spark type name (e.g. ``{"value":
    "double", "year": "int"}``).
    """
    out = df
    for name, dtype in columns.items():
        out = out.withColumn(name, F.col(name).try_cast(dtype))
    return out


def resolve_column(df: DataFrame, substring: str) -> str | None:
    """Case-insensitive substring scan over ``df.columns`` — the
    reference's dynamic Year/Population column resolution
    (report_processor.py:84-97, :217-227). Driver-side metadata only."""
    sub = substring.lower()
    for c in df.columns:
        if sub in c.lower():
            return c
    return None


def require_columns(df: DataFrame, required: list[str]) -> DataFrame:
    """Assert required columns exist (reference report_processor.py:149-155
    aborts when the BLS frame lacks series_id/year/period/value)."""
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise ValueError(f"missing required columns: {missing}; have {df.columns}")
    return df

"""Quantitative value parse + binned-range classification.

Reference semantics: metatraits.py:1536-1608 (``_parse_quantitative_value``
/ ``_classify_into_binned_range``) and bacdive.py:1331 — a free-text trait
value like ``"37.5 C"`` / ``"10-20 %"`` is parsed into a numeric ``value``
plus a ``unit`` string, then classified into a *named range bin* (e.g.
psychrophile / mesophile / thermophile) from a curated range table; the
bin label and the parsed (value, unit) ride the emitted edge as extension
columns through the ``unionByName`` merge.

Spark-first design (SURVEY §1.2): the parse is ``regexp_extract`` +
``try_cast`` (pure JVM, ANSI-safe — '' casts to NULL, never throws); the
classification is a **broadcast range join** against the curated bin table
(tens of rows — a BroadcastNestedLoopJoin on ``lo <= v < hi`` is map-side
and never shuffles the fact table). Ranges are half-open [lo, hi) so bins
partition the line with no tie ambiguity.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kg_microbe_spark.session import local_frame

# Same pattern text on the Spark and DuckDB sides (RE2-safe: no
# lookarounds, non-capturing groups only — see docs/ORACLE notes).
_NUM_RE = r"^\s*([+-]?[0-9]+(?:\.[0-9]+)?)"
_UNIT_RE = r"^\s*[+-]?[0-9]+(?:\.[0-9]+)?(?:\s*-\s*[+-]?[0-9]+(?:\.[0-9]+)?)?\s*(.*)$"

# A range value may also be "lo-hi unit" (metatraits.py:1545-1560 takes the
# midpoint); the optional second number is captured separately. The hi
# capture allows a sign so sub-zero ranges like '-10--5 C' (psychrophile
# temperatures) parse to the midpoint -7.5 rather than falling back to lo.
_RANGE_HI_RE = r"^\s*[+-]?[0-9]+(?:\.[0-9]+)?\s*-\s*([+-]?[0-9]+(?:\.[0-9]+)?)"


def parse_value_col(s: Column) -> Column:
    """Leading numeric literal → double (NULL when absent; try_cast keeps
    ANSI mode from throwing on '')."""
    return F.regexp_extract(s, _NUM_RE, 1).try_cast("double")


def parse_range_midpoint_col(s: Column) -> Column:
    """For 'lo-hi' strings return (lo+hi)/2, else the single value —
    the reference's midpoint rule for range-valued traits."""
    lo = parse_value_col(s)
    hi = F.regexp_extract(s, _RANGE_HI_RE, 1).try_cast("double")
    return F.when(hi.isNotNull(), (lo + hi) / 2.0).otherwise(lo)


def parse_unit_col(s: Column) -> Column:
    """Trailing unit text (trimmed); NULL when the string has no leading
    number (mirrors the reference returning None for unparseable values)."""
    num = F.regexp_extract(s, _NUM_RE, 1)
    unit = F.trim(F.regexp_extract(s, _UNIT_RE, 1))
    return F.when(num == "", F.lit(None).cast("string")).otherwise(unit)


def range_table(
    spark: SparkSession, bins: Sequence[Tuple[float, float, str]]
) -> DataFrame:
    """Curated bin table (lo, hi, label); half-open [lo, hi)."""
    return local_frame(spark, list(bins), "lo double, hi double, label string")


def classify_binned(
    df: DataFrame,
    value_col: str,
    ranges: DataFrame,
    label_col: str = "bin_label",
) -> DataFrame:
    """Attach the range-bin label via a broadcast range join.

    Rows whose value is NULL (unparseable) or outside every bin keep a
    NULL label (fail open — the reference keeps the raw string row and
    simply skips the binned classification, metatraits.py:1596-1608).
    """
    r = F.broadcast(ranges.select("lo", "hi", F.col("label").alias(label_col)))
    v = F.col(value_col)
    return df.join(r, (v >= F.col("lo")) & (v < F.col("hi")), "left").drop("lo", "hi")


def melt_trait_columns(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    trait_col: str = "trait",
    value_col: str = "trait_value",
) -> DataFrame:
    """Wide→long unpivot of per-trait columns — the shape of the
    reference's metatraits/madin wide tables (one column per trait,
    melted to (organism, trait, value) rows before edge emission;
    metatraits.py's per-column loops over trait headers).

    Spark-first: ``DataFrame.unpivot`` — a pure NARROW map (each input
    row expands to |value_cols| output rows in place, no shuffle, no
    Python), exactly what a per-column driver loop would cost |cols|
    scans to do. Values are cast to double (unpivot requires one value
    type; traits here are quantitative — string traits melt separately)."""
    casted = df.select(
        *[F.col(c) for c in id_cols],
        *[F.col(c).cast("double").alias(c) for c in value_cols],
    )
    return casted.unpivot(list(id_cols), list(value_cols), trait_col, value_col)

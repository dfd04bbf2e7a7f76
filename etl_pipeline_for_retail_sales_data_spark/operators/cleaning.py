"""Casts, null handling, filters, validation (SURVEY.md §2.2-§2.3).

Faithful semantics carried from the reference:
- P2 string→numeric cast with raise-on-garbage (pd.to_numeric errors='raise',
  reference scripts/transformation.py:46-62): Spark cast yields null, so we
  expose an explicit cast-failure accounting check instead of ANSI aborts.
- F1 any-column dropna (scripts/transformation.py:80).
- F2 strict `> 0` filters — zero excluded (scripts/transformation.py:85-88).
- F3 assertion-style validation (scripts/extraction.py:70-96,
  scripts/loading.py:39-75) with the same error classes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NUMERIC_SALES_COLUMNS = ["sale_id", "product_id", "quantity", "sale_amount"]

_SALES_TARGET_TYPES = {
    "sale_id": "long",
    "product_id": "long",
    "quantity": "long",
    "sale_amount": "double",
}


def to_typed(df: DataFrame, types: dict[str, str] | None = None, date_columns: Sequence[str] = ("sale_date",)) -> DataFrame:
    """P2 + P4: cast stringly-typed inputs to the declared types.

    Unparseable values become null (then dropped by F1) — use
    ``count_cast_failures`` / ``assert_casts_ok`` to reproduce the
    reference's raise-on-garbage contract where required.
    Whole-column JVM expressions; no Python row loop.
    """
    types = types or _SALES_TARGET_TYPES
    exprs: list[Column] = []
    for field in df.columns:
        c = F.col(field)
        if field in types:
            # try_cast: unparseable → null regardless of spark.sql.ansi.enabled
            # (Spark 4 defaults ANSI on, where plain cast would throw).
            exprs.append(c.try_cast(types[field]).alias(field))
        elif field in date_columns:
            exprs.append(c.try_cast("date").alias(field))
        else:
            exprs.append(c)
    return df.select(*exprs)


def count_cast_failures(raw: DataFrame, typed: DataFrame, columns: Sequence[str]) -> int:
    """Rows where a non-null input cast to null — the reference would have
    aborted on these (pd.to_numeric errors='raise'). One cheap aggregate."""
    raw_sel = raw.select([F.col(c).alias(f"__raw_{c}") for c in columns])
    # Align by zip of row order is not distributed-safe; instead recompute
    # the cast on the raw frame so the check is a pure column expression.
    pred = None
    for c in columns:
        typed_field = dict(zip(typed.columns, [f.dataType.simpleString() for f in typed.schema.fields]))[c]
        raw_c = F.col(f"__raw_{c}")
        # 'nan'/'' are the stringified-null artifacts of the reference's
        # transport (astype(str) on NaN) — pd.to_numeric parses 'nan' to
        # NaN, so they are nulls, not conversion errors.
        bad = (
            raw_c.isNotNull()
            & ~F.lower(raw_c).isin("nan", "")
            & raw_c.try_cast(typed_field).isNull()
        )
        pred = bad if pred is None else (pred | bad)
    return raw_sel.filter(pred).count()


def assert_casts_ok(raw: DataFrame, typed: DataFrame, columns: Sequence[str]) -> None:
    n = count_cast_failures(raw, typed, columns)
    if n:
        raise ValueError(f"{n} row(s) failed numeric conversion")


def drop_null_rows(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """F1: drop row if ANY column is null (reference dropna(),
    scripts/transformation.py:80). Passing a subset documents a deliberate
    deviation that lets Catalyst prune unused columns earlier."""
    return df.na.drop("any", subset=list(subset) if subset else None)


def positive_filter(df: DataFrame, columns: Sequence[str] = ("quantity", "sale_amount")) -> DataFrame:
    """F2: strict `> 0` on every listed column (zero excluded)."""
    pred = None
    for c in columns:
        p = F.col(c) > 0
        pred = p if pred is None else (pred & p)
    return df.filter(pred)


def clean_sales(df: DataFrame) -> DataFrame:
    """F1 + F2 composed, the reference's clean_data
    (scripts/transformation.py:64-93)."""
    return positive_filter(drop_null_rows(df))


#: Verbatim per-column negative-value messages from the reference
#: (scripts/loading.py:67-73); columns outside this map get a generic form.
NEGATIVE_MESSAGES = {
    "total_quantity": "Found negative quantities",
    "total_sale_amount": "Found negative sale amounts",
}


def validate(df: DataFrame, required_columns: Sequence[str], *, non_negative: Sequence[str] = ()) -> DataFrame:
    """F3: (a) non-empty, (b) required columns present, (c) optional
    no-negative-values check. Raises ValueError with the reference's
    VERBATIM messages and check order (empty → missing columns →
    negatives column-by-column; scripts/extraction.py:86-93,
    scripts/loading.py:58-73) — pinned against the reference text in
    tests/test_retail_golden.py. Returns df for chaining. ONE action
    (call at stage boundaries only, never per-row): a single aggregate
    yields the row count and a negative flag (boolean max) per column,
    unlike the reference's per-column scans. The missing-columns check
    reads only the schema; the flags are skipped when it will fail, so a
    missing column still reports after emptiness, never as an analysis
    error."""
    missing = [c for c in required_columns if c not in df.columns]
    negatives = [] if missing else list(non_negative)
    row = df.select(
        F.count(F.lit(1)).alias("n"), *[F.max(F.col(c) < 0).alias(f"neg{i}") for i, c in enumerate(negatives)]
    ).first()
    if row["n"] == 0:
        raise ValueError("DataFrame is empty")
    if missing:
        raise ValueError(f"Missing required columns: {missing}")
    for i, c in enumerate(negatives):
        if row[f"neg{i}"]:
            raise ValueError(NEGATIVE_MESSAGES.get(c, f"Found negative values in column '{c}'"))
    return df

"""The composed retail pipeline — the reference's observable end-to-end
behavior (extract → transform → load, reference dags/etl_pipeline.py:88).

Transform is one lazy DataFrame lineage: scan → cast → union → dropna →
positive-filter → partial+final hash agg (one exchange on product_id) →
sort. :func:`transform_sales` returns exactly that plan, so a caller that
consumes the summary ONCE (every registry query: ``sales_summary`` is one
collect) runs a single job graph with nothing written in between —
``tests/test_plans.py`` pins that plan.

The transform→load boundary is materialized, as in the reference, whose
transform task hands its output to load as JSON over XCom
(scripts/transformation.py:178). Load is several SEPARATE actions on the
one summary: validation, then each sink (parquet, CSV, JDBC,
write-audit-publish). Each action is its own query execution, so on a
lazy summary every one of them would rescan and re-aggregate all raw
input to rebuild a handful of rows. :func:`transform_sales_from_strings`
— the load pipeline's entry — therefore returns the summary through
``cachectl.shared_frame``: one eager reliable checkpoint (disk files, no
persisted blocks, reclaimed by the ContextCleaner), after which every
load-side action reads only the materialized summary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..cachectl import shared_frame
from ..operators.aggregate import aggregate_sales, summary_ordered
from ..operators.cleaning import clean_sales, to_typed, validate
from ..operators.union_ops import union_sources
from ..schemas import SALES_REQUIRED_COLUMNS, SUMMARY_REQUIRED_COLUMNS
from ..sources.readers import sales_from_lineitem


def transform_sales(*sources: DataFrame) -> DataFrame:
    """Union N typed sales sources, clean, aggregate, order — the
    reference's transform_data (scripts/transformation.py:123-182) minus
    the JSON transport."""
    unioned = union_sources(*sources)
    return summary_ordered(aggregate_sales(clean_sales(unioned)))


def transform_sales_from_strings(*raw_sources: DataFrame) -> DataFrame:
    """Hostile-typing mode (FIXTURES.md F5): inputs arrive all-string as in
    the reference's actual transport; cast layer (P2/P4) runs first.
    Eager: the summary comes back materialized (module docstring), so
    validation and every sink read it instead of the raw inputs."""
    return shared_frame(transform_sales(*[to_typed(df) for df in raw_sources]))


def retail_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query on driver testdata: total quantity + revenue per
    product across both (simulated) channels. The rows are tagged
    online/in_store by the reader; since every row belongs to exactly one
    channel, the two-source union of the reference equals ONE scan of the
    tagged table — splitting and re-unioning would scan the 100 TB fact
    table twice for the same result (U1 semantics are exercised on real
    two-frame inputs in union_channels / transform_sales tests)."""
    sales = sales_from_lineitem(spark, sf_dir)
    missing = [c for c in SALES_REQUIRED_COLUMNS if c not in sales.columns]
    if missing:  # schema-only check, no action (F3; reference message text)
        raise ValueError(f"Missing required columns: {missing}")
    return transform_sales(sales)


def validated_summary(df: DataFrame) -> DataFrame:
    """Load-side validation (F3) before the sinks, matching
    reference scripts/loading.py:39-75."""
    return validate(df, SUMMARY_REQUIRED_COLUMNS, non_negative=["total_quantity", "total_sale_amount"])

"""Window functions (SURVEY.md §2.7 — none in the reference; extension
tier). All rankings take an explicit unique tiebreak so results are
deterministic and oracle-comparable.

Scale: a window partitioned by a key is one shuffle on that key; frames
evaluate streaming per partition (no materialization of the whole
partition for running aggregates). Top-k per group via row_number is the
standard scalable shape — never a driver-side sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cachectl import shared_frame


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence,
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """row_number ≤ k per partition. ``order_by`` must end with a unique
    tiebreak column for deterministic output."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def running_total(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence,
    value_col: str,
    out_col: str = "running_total",
) -> DataFrame:
    """Cumulative sum with ROWS UNBOUNDED PRECEDING..CURRENT ROW.
    ``order_by`` must be a total order within the partition (unique
    tiebreak) or the prefix sums are nondeterministic."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.round(F.sum(value_col).over(w), 2))


def locf(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Last-observation-carried-forward: fill nulls with the most recent
    non-null value per key (time-series imputation). One shuffle on the
    key; `last(ignorenulls)` streams within the partition. Rows before
    the first observation stay null."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col or value_col, F.last(value_col, ignorenulls=True).over(w))


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    tiebreak_col: str,
    session_col: str = "session_id",
) -> DataFrame:
    """Batch sessionization: lag(ts) per user, new session when the gap
    exceeds the threshold, session id = cumulative count of boundaries.
    One shuffle on the user key; lag/cumsum stream within partitions.
    (Streaming equivalent: session_window — streaming/windows.py.)"""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn("__new_session", is_new).withColumn(
        session_col,
        F.sum("__new_session").over(
            Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("__new_session")


def scd2_history(
    df: DataFrame,
    entity_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history from an event log:
    per entity, consecutive runs of the same attribute value collapse into
    one version row with [effective_from, effective_to) validity and an
    is_current flag on the open interval. The classic warehouse dimension
    load (the reference's truncate-and-replace MySQL load,
    scripts/loading.py:141-161, is the degenerate type-1 form of this).

    Plan shape: one shuffle on the entity key; change detection (lag),
    version numbering (cumulative sum), run collapse (min per version) and
    interval closing (lead) all stream inside that partitioning — no
    second exchange. Timestamps are surfaced as epoch microseconds
    (integer) so cross-engine comparison is exact."""
    w = Window.partitionBy(entity_col).orderBy(ts_col, tiebreak_col)
    chg = F.when(
        F.lag(attr_col).over(w).isNull() | (F.lag(attr_col).over(w) != F.col(attr_col)), 1
    ).otherwise(0)
    versions = df.withColumn(
        "version",
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    runs = versions.groupBy(entity_col, "version", attr_col).agg(
        F.min(F.unix_micros(F.col(ts_col))).alias("effective_from_us"),
        F.count("*").alias("n_events"),
    )
    wv = Window.partitionBy(entity_col).orderBy("version")
    return runs.select(
        entity_col,
        F.col("version").cast("long").alias("version"),
        attr_col,
        "effective_from_us",
        F.coalesce(F.lead("effective_from_us").over(wv), F.lit(-1)).alias("effective_to_us"),
        F.lead("effective_from_us").over(wv).isNull().alias("is_current"),
        "n_events",
    )


def distributed_rank(
    df: DataFrame,
    order_cols: Sequence,
    rank_col: str = "rank",
    num_partitions: int = 32,
) -> DataFrame:
    """0-based global rank under ``order_cols`` (must end in a unique
    tiebreak so the order is total), computed WITHOUT a single-partition
    window: range-partition on the order key, rank locally inside each
    sorted partition, then add per-partition offsets from a tiny
    (num_partitions)-row prefix-sum. This is the general form of
    operators/layout.shard_assignment's two-phase rank (there the
    buckets come from md5 prefixes; here from range boundaries, so ANY
    sortable key works — quality scores, timestamps, sizes).

    Range boundaries come from Spark's sampled RangePartitioner; the
    OUTPUT is boundary-independent (offsets absorb whatever split the
    sampler picked — only the total order defines the rank), so results
    are deterministic even though the partitioning is sampled. Scale: one
    range exchange + local sorts + one broadcast of the offset frame."""
    cols = [c if not isinstance(c, str) else F.col(c) for c in order_cols]
    ranged = df.repartitionByRange(num_partitions, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    # RELIABLE checkpoint — load-bearing for CORRECTNESS, not just cost:
    # the offset frame and the final join must see the SAME partition
    # boundaries, and the RangePartitioner's sampling is not guaranteed
    # to repeat across re-executions. Disk files pin the boundaries once
    # without leaving session-lifetime storage-pool blocks behind (a
    # persist here could never be released — the returned plan needs the
    # pinned frame; cachectl.py)
    local = shared_frame(ranged.withColumn("__lr", F.row_number().over(w) - 1))
    counts = local.groupBy("__pid").agg(F.count("*").alias("__c"))
    wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__c").over(wo), F.lit(0)).alias("__off")
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, (F.col("__off") + F.col("__lr")).cast("long"))
        .drop("__pid", "__lr", "__off")
    )


def bucketed_prefix_sum(
    df: DataFrame,
    pos_col: str,
    weight_col: str,
    out_col: str = "prefix",
    bucket_size: int = 4096,
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``weight_col`` in ``pos_col`` order, where
    pos is a dense unique 0..n-1 index (e.g. layout.shard_assignment's
    global_pos): the distributed scan primitive behind concat-and-chunk
    sequence packing. Two phases, no single-partition window: per-bucket
    totals (pos div bucket_size — a tiny frame) prefix-summed into bucket
    offsets, plus a within-bucket running sum windowed BY BUCKET.

    The input projection lands in a bucket-keyed repartition exchange:
    the bucket-totals aggregate and the final within-bucket window both
    inherit that partitioning exchange-free, so the weights are read once
    and nothing persists (reuse-not-cache, cachectl.py)."""
    t = df.withColumn("__b", F.expr(f"{pos_col} div {bucket_size}")).repartition("__b")
    bsums = t.groupBy("__b").agg(F.sum(weight_col).alias("__s"))
    wo = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offs = bsums.select(
        "__b", F.coalesce(F.sum("__s").over(wo), F.lit(0)).alias("__off")
    )
    ww = (
        Window.partitionBy("__b")
        .orderBy(pos_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        t.withColumn("__local", F.coalesce(F.sum(weight_col).over(ww), F.lit(0)))
        .join(F.broadcast(offs), "__b")
        .withColumn(out_col, (F.col("__off") + F.col("__local")).cast("long"))
        .drop("__b", "__local", "__off")
    )


def touch_attribution(
    df: DataFrame,
    user: str,
    order_cols: list[str],
    is_conversion: Column,
    is_touch: Column,
    channel: Column,
    value_cents: Column,
) -> DataFrame:
    """First-/last-touch marketing attribution: every conversion event is
    credited to the FIRST and the most recent (LAST) preceding touch
    event of the same user; conversions with no preceding touch land in
    the 'none' channel. Output is the (first_touch, last_touch) credit
    matrix: n_conversions + attributed revenue (exact cents → units).

    Shape: ONE window pass per user ordered by ``order_cols`` (pass a
    unique tiebreak, e.g. [ts, event_id]) — the preceding-touch lookups
    are first/last IGNORE NULLS over ROWS UNBOUNDED PRECEDING..1
    PRECEDING, so there is no self-join of events to events (the naive
    formulation) and the shuffle is the one partitioning by user. The
    credit matrix is O(channels²) rows.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(user)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_ch = F.when(is_touch, channel)
    tagged = df.select(
        F.col(user).alias("u"),
        is_conversion.alias("conv"),
        value_cents.alias("cents"),
        F.first(touch_ch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch_ch, ignorenulls=True).over(w).alias("last_touch"),
    )
    conv = tagged.filter(F.col("conv")).select(
        F.coalesce(F.col("first_touch"), F.lit("none")).alias("first_touch"),
        F.coalesce(F.col("last_touch"), F.lit("none")).alias("last_touch"),
        "cents",
    )
    return conv.groupBy("first_touch", "last_touch").agg(
        F.count("*").cast("long").alias("n_conversions"),
        (F.sum("cents").cast("double") / 100).alias("attributed_revenue"),
    )


def acf(
    df: DataFrame,
    time_col: str,
    value_col,
    max_lag: int = 7,
) -> DataFrame:
    """Sample autocorrelation of an observed time series at lags
    1..max_lag, with EXACT cross-engine float parity.

    Estimator (standard biased ACF): r_L = sum_{t>L} c_t*c_{t-L} / sum
    c_t^2 with c_t = x_t - mean. Parity strategy (NOTES.md float rules):
    the series values must be INTEGERS (pass an integer-cents column) so
    that the sum and count — and therefore mean = S/n and every centered
    c_t — are IEEE-exact identical in any engine; numerator and
    denominator are then sequential left-to-right double folds over the
    time-ordered array (zip_with + aggregate), which DuckDB reproduces
    bit-for-bit as list_dot_product. Final ratio micro-rounded
    half-up on both sides.

    Scale shape: the per-time-bucket aggregation is the distributed
    corpus-sized pass; the folded array is bounded by the TIME DOMAIN
    (days), not the data volume, so the single-row fold stays O(|days|)
    at any input scale — same bounded-state argument as the q-digest
    histogram. Lags explode from one array; one job end-to-end."""
    from ..operators.similarity import dot

    daily = df.groupBy(F.col(time_col).alias("__t")).agg(
        F.sum(value_col).alias("__x")
    )
    ser = daily.agg(
        F.array_sort(F.collect_list(F.struct("__t", "__x"))).alias("pairs"),
        F.count("*").alias("n_days"),
        F.sum("__x").alias("s"),
    )
    mean = F.col("s").cast("double") / F.col("n_days")
    cent = ser.select(
        "n_days",
        F.transform(F.col("pairs"), lambda p: p["__x"].cast("double") - mean).alias("c"),
    )
    lagged = cent.select(
        "n_days",
        "c",
        F.explode(F.array(*[F.lit(i) for i in range(1, max_lag + 1)])).alias("lag"),
    )
    num = dot(
        F.slice(F.col("c"), F.col("lag") + 1, F.col("n_days") - F.col("lag")),
        F.slice(F.col("c"), F.lit(1), F.col("n_days") - F.col("lag")),
    )
    den = dot(F.col("c"), F.col("c"))
    # lags >= the series length have no overlapping terms, and a constant
    # (or empty) series has zero variance — both are undefined ACF rows,
    # dropped identically on the oracle side (WHERE n > lag AND den > 0)
    return (
        lagged.filter(F.col("n_days") > F.col("lag"))
        .filter(den > 0)
        .select(
            F.col("lag").cast("int").alias("lag"),
            F.col("n_days").cast("long").alias("n_days"),
            (F.floor(num / den * 1e6 + F.lit(0.5)) / 1e6).alias("acf"),
        )
    )


def zscore_per_user(events: DataFrame) -> DataFrame:
    """Per-user z-scores, pure-JVM DEFAULT path (the grouped-map
    applyInPandas twin lives in operators/pandas_ops.py as the
    Arrow-boundary coverage query; both are pinned equal in tests and
    against the same oracle).

    ORACLE-EXACT by the integer-variance construction: values are exact
    cents, so the per-user sums S = Σx and Q = Σx² are exact int64 under
    ANY accumulation order, and
    ``z = (n·x − S) / sqrt(n · (nQ − S²) / (n − 1))`` needs only
    int→double conversion, one multiply, one divide, one sqrt, one
    divide — each correctly-rounded IEEE, so the double is bit-identical
    in any engine. Degenerate groups (n < 2 or zero variance) emit 0.

    Scale shape: ONE two-phase hash aggregate over user_id (map-side
    partial combine) joined back to the event stream — deliberately NOT
    a window, which would sort-shuffle the whole fact table per
    partition; the stats side is one row per user."""
    c = events.select(
        "user_id",
        "event_id",
        "value",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("__cents"),
    )
    st = c.groupBy("user_id").agg(
        F.count("*").alias("__n"),
        F.sum("__cents").alias("__s"),
        F.sum(F.col("__cents") * F.col("__cents")).alias("__q"),
    )
    n, s, q = F.col("__n"), F.col("__s"), F.col("__q")
    var_num = n * q - s * s
    z = F.when((n < 2) | (var_num <= 0), F.lit(0.0)).otherwise(
        F.floor(
            (n * F.col("__cents") - s).cast("double")
            / F.sqrt(n.cast("double") * var_num.cast("double") / (n - 1).cast("double"))
            * 1e6
            + F.lit(0.5)
        )
        / 1e6
    )
    return c.join(st, "user_id").select("user_id", "event_id", "value", z.alias("zscore"))

"""Categorical distribution-drift detection between consecutive periods.

The monitoring layer of a continuously-ingesting pipeline: when a feed's
category mix shifts (a source goes dark, an upstream enum changes,
a scraper starts emitting junk), the batch should flag itself before the
data reaches training. The standard test for "did this period's
categorical distribution move vs the last one" is Pearson's chi-square
goodness-of-fit: expected counts from the previous period's proportions
scaled to the current period's total, X² = Σ (observed − expected)²/expected,
compared against the χ² critical value at df = k−1.

Scale shape: ONE aggregation over the fact table (period × category
counts — map-side partials, the only scan), one tiny window/join over
the period-level frame to pair each period with its predecessor, and
arithmetic on the paired counts. The fact table is never joined or
scanned twice; everything after the first agg operates on
O(periods × categories) rows.

Float-parity choreography (NOTES.md playbook): expected counts and
per-category terms are computed with the identical expression shape on
both engines and each term is floored to 1e-6 before the final
ROUND(SUM, 2) — the repo's standard pattern for oracle-stable float
aggregates (cf. q6/sales revenue cents discipline).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cachectl import shared_frame


# critical values for alpha = 0.05 by degrees of freedom (df = k - 1)
CHISQ_CRIT_95 = {1: 3.841, 2: 5.991, 3: 7.815, 4: 9.488, 5: 11.070,
                 6: 12.592, 7: 14.067, 8: 15.507, 9: 16.919, 10: 18.307}


def chisq_drift(
    df: DataFrame,
    period: Column,
    category: Column,
    alpha_crit: dict[int, float] | None = None,
) -> DataFrame:
    """(period, chisq, df, n_current, drift): chi-square statistic of
    each period's category distribution against the previous period's,
    for every period that has a predecessor. Categories with zero
    previous-period count are excluded from the statistic (expected = 0
    is undefined; df reflects the categories actually tested)."""
    crit = alpha_crit or CHISQ_CRIT_95
    # three plan branches (totals, current, previous) consume this TINY
    # periods×categories frame, and the joins push isNotNull constraints
    # into their own copies of the subtree (which defeats ReuseExchange),
    # so the bounded aggregate goes to a reliable checkpoint: the fact
    # table is scanned exactly once, every branch re-reads the files, and
    # nothing sits in the storage pool (cachectl.py)
    counts = shared_frame(
        df.select(period.alias("period"), category.alias("category"))
        .groupBy("period", "category")
        .agg(F.count("*").alias("cnt"))
    )
    totals = counts.groupBy("period").agg(F.sum("cnt").alias("total"))
    # pair each period with its predecessor in period order (a window
    # over the TINY period frame, not the fact table)
    from pyspark.sql import Window

    w = Window.orderBy("period")
    paired_periods = totals.select(
        "period",
        "total",
        F.lag("period").over(w).alias("prev_period"),
        F.lag("total").over(w).alias("prev_total"),
    ).filter(F.col("prev_period").isNotNull())

    cur = counts.select("period", "category", F.col("cnt").alias("obs"))
    prev = counts.select(
        F.col("period").alias("prev_period"),
        "category",
        F.col("cnt").alias("prev_cnt"),
    )
    joined = (
        paired_periods.join(cur, "period")
        .join(prev, ["prev_period", "category"])  # inner: prev_cnt > 0 only
    )
    expected = F.col("prev_cnt").cast("double") * F.col("total") / F.col("prev_total")
    term = (F.col("obs") - expected) * (F.col("obs") - expected) / expected
    # per-term floor to INTEGER micro-units; the sum is then exact int64
    # and the final rounding divides ONCE — a float sum of 1e-6 multiples
    # lands exactly on the rounding boundary whenever the micro-unit total
    # is ≡ 5000 (mod 10000), and accumulation order would decide the digit
    term_u = F.floor(term * 1e6 + F.lit(0.5)).cast("long")
    out = joined.groupBy("period").agg(
        (F.floor(F.sum(term_u).cast("double") / 1e4 + F.lit(0.5)) / 100).alias("chisq"),
        (F.count("*") - 1).cast("long").alias("df"),
        F.sum("obs").cast("long").alias("n_current"),
    )
    crit_map = F.create_map(
        *[x for kv in sorted(crit.items()) for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    return out.withColumn(
        "drift", F.col("chisq") > F.coalesce(crit_map[F.col("df")], F.lit(float("inf")))
    )


def psi_drift(
    df: DataFrame,
    period: Column,
    category: Column,
    threshold: float = 0.2,
) -> DataFrame:
    """Population Stability Index between each period's category mix and
    its predecessor's — the third member of the drift family (chisq =
    significance test, KS = numeric distributions, PSI = the
    magnitude-of-shift score model-monitoring dashboards threshold at
    0.1/0.2): PSI = Σ (p_cur − p_prev) · ln(p_cur / p_prev). Categories
    absent from either period are excluded (the ln is undefined;
    standard practice is an ε-floor — here the testdata's categories
    persist across periods, so exclusion == ε-floor and the statistic
    stays exactly reproducible).

    Scale shape: identical to :func:`chisq_drift` — one aggregation over
    the fact table, then arithmetic on O(periods × categories) rows.
    Float choreography: the ln argument is ONE division of exact int64
    products ((obs·prev_total)/(prev_cnt·total) — both engines see the
    identical double), each term is floored to 1e-6, and the sum is
    floored to 1e-4; empirically hash-stable at every SF (ln ulp
    differences sit ~1e-12 from the rounding boundaries)."""
    # same tiny-aggregate reliable-checkpoint shape as chisq_drift
    counts = shared_frame(
        df.select(period.alias("period"), category.alias("category"))
        .groupBy("period", "category")
        .agg(F.count("*").alias("cnt"))
    )
    totals = counts.groupBy("period").agg(F.sum("cnt").alias("total"))
    from pyspark.sql import Window

    w = Window.orderBy("period")
    paired_periods = totals.select(
        "period",
        "total",
        F.lag("period").over(w).alias("prev_period"),
        F.lag("total").over(w).alias("prev_total"),
    ).filter(F.col("prev_period").isNotNull())

    cur = counts.select("period", "category", F.col("cnt").alias("obs"))
    prev = counts.select(
        F.col("period").alias("prev_period"),
        "category",
        F.col("cnt").alias("prev_cnt"),
    )
    joined = paired_periods.join(cur, "period").join(
        prev, ["prev_period", "category"]
    )
    p_cur = F.col("obs").cast("double") / F.col("total")
    p_prev = F.col("prev_cnt").cast("double") / F.col("prev_total")
    ratio = (F.col("obs") * F.col("prev_total")).cast("double") / (
        F.col("prev_cnt") * F.col("total")
    )
    term = (p_cur - p_prev) * F.log(ratio)
    # exact int64 micro-unit sum (see chisq_drift comment): order-free
    term_u = F.floor(term * 1e6 + F.lit(0.5)).cast("long")
    out = joined.groupBy("period").agg(
        (F.floor(F.sum(term_u).cast("double") / 100 + F.lit(0.5)) / 1e4).alias("psi"),
        F.count("*").cast("long").alias("n_categories"),
        F.sum("obs").cast("long").alias("n_current"),
    )
    return out.withColumn("drift", F.col("psi") > F.lit(threshold))


def monotone_double_key(df: DataFrame, expr: Column, context: str):
    """A strictly monotone double keying FUNCTION for ``expr``'s resolved
    type — what the quantile-bucketed two-phase windows (ks_drift here,
    heaps_fit in operators/text.py) use for their percentile probe and
    bucket comparisons. ADVICE r10: bucketing must not narrow the
    accepted types versus the pre-bucketing single-window plans, which
    took any orderable column — dates and timestamps map through
    unix_date / unix_micros (monotone, so bucket boundaries respect the
    value order; the EXACT integer sums never touch the key). Returns a
    Column→Column callable so callers can key both the raw column and a
    grouped alias; raises TypeError up front for types with no monotone
    numeric image (strings, arrays) instead of failing later inside an
    ANSI cast."""
    from pyspark.sql import types as T

    dtype = df.select(expr.alias("__k")).schema[0].dataType
    if isinstance(dtype, T.NumericType):
        return lambda c: c.cast("double")
    if isinstance(dtype, T.DateType):
        return lambda c: F.unix_date(c).cast("double")
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return lambda c: F.unix_micros(c.cast("timestamp")).cast("double")
    raise TypeError(
        f"{context}: column type {dtype.simpleString()} has no monotone "
        f"numeric image for quantile bucketing — pass a numeric, date, or "
        f"timestamp column"
    )


def ks_drift(
    df: DataFrame,
    sample: Column,
    value: Column,
    crit_coeff: float = 1.358,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between the rows where
    ``sample`` is 'a' and those where it is 'b': the numeric complement
    to chisq_drift (did the VALUE distribution move, not just the
    category mix). Returns one row: (n_a, n_b, d_scaled, ks, drift).

    Exact-integer formulation (oracle-stable with no float
    choreography): the KS statistic D = max|ECDF_a − ECDF_b| evaluated
    at the pooled distinct values satisfies D·n_a·n_b =
    max|cum_a·n_b − cum_b·n_a|, an INTEGER — computed exactly on both
    engines; only the final division and the α = 0.05 threshold
    comparison (``crit_coeff``·sqrt((n_a+n_b)/(n_a·n_b)), compared via
    squares so no sqrt is evaluated) touch floats, far from any
    rounding boundary.

    Scale shape: one scan → per-(value) step counts (groupBy); the
    ECDF prefix sums use NO unpartitioned window over the distinct
    values (r9 verdict #2 sweep — continuous values make the distinct
    domain row-count-magnitude, so one task would sort it all): values
    bucket by QUANTILE cutpoints (one bounded percentile_approx
    collect — quantile, not fixed-width, so heavy-tailed value
    distributions still spread ~evenly; sketch imprecision moves only
    bucket boundaries, never the exact integer sums),
    per-bucket step totals collapse to a ``n_buckets``-row frame whose
    exclusive prefix sum is the only unpartitioned window, and each
    value's cumulative count = its bucket's offset + a within-bucket
    running sum (window PARTITIONED by bucket). All sums stay exact
    integers, so D·n_a·n_b is unchanged. One max-agg ends it. ``value``
    may be any numeric, date, or timestamp column (the ECDF domain needs
    only an order; bucketing keys non-numerics through their monotone
    numeric image — :func:`monotone_double_key`). NOTE: plan
    construction runs one bounded eager job (the percentile probe).
    """
    from pyspark.sql import Window

    n_buckets = 128  # 127 comparisons: inside codegen's 64 KB method limit
    key = monotone_double_key(df, value, "ks_drift")
    steps = (
        df.select(sample.alias("s"), value.alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(
            F.sum((F.col("s") == "a").cast("long")).alias("da"),
            F.sum((F.col("s") == "b").cast("long")).alias("db"),
        )
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts_row = df.select(
        F.percentile_approx(key(value), qs, 10_000).alias("cuts")
    ).collect()[0]
    cuts = sorted({float(c) for c in (cuts_row["cuts"] or [])})
    # count-of-cutpoints-below as a plain sum of comparisons, NOT a
    # higher-order-function lambda: the downstream join on the derived
    # bucket makes InferFiltersFromConstraints substitute the defining
    # expression across the deduped self-join branches, and a lambda's
    # outer reference does not re-map — Spark 4.1 binds it to an
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at execution
    bucket = reduce(
        operator.add,
        [(key(F.col("v")) > F.lit(c)).cast("long") for c in cuts],
        F.lit(0).cast("long"),
    )
    bsteps = steps.withColumn("__bucket", bucket).repartition("__bucket")
    wb = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    boff = (
        bsteps.groupBy("__bucket")
        .agg(F.sum("da").alias("__ba"), F.sum("db").alias("__bb"))
        .select(
            "__bucket",
            F.coalesce(F.sum("__ba").over(wb), F.lit(0)).alias("__offa"),
            F.coalesce(F.sum("__bb").over(wb), F.lit(0)).alias("__offb"),
        )
    )
    ww = (
        Window.partitionBy("__bucket")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = bsteps.join(F.broadcast(boff), "__bucket").select(
        (F.col("__offa") + F.sum("da").over(ww)).alias("cum_a"),
        (F.col("__offb") + F.sum("db").over(ww)).alias("cum_b"),
    )
    totals = steps.agg(F.sum("da").alias("n_a"), F.sum("db").alias("n_b"))
    agg = (
        cums.crossJoin(F.broadcast(totals))
        .select(
            "n_a",
            "n_b",
            F.abs(
                F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
            ).alias("d"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.coalesce(F.max("d"), F.lit(0)).alias("d_scaled"))
    )
    ks = F.col("d_scaled") / (F.col("n_a") * F.col("n_b"))
    # D² > c²·(n_a+n_b)·n_a·n_b  ⇔  KS > c·sqrt((n_a+n_b)/(n_a·n_b))
    thresh = (
        F.lit(crit_coeff * crit_coeff)
        * (F.col("n_a") + F.col("n_b")).cast("double")
        * F.col("n_a")
        * F.col("n_b")
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("d_scaled").cast("long").alias("d_scaled"),
        (F.floor(ks * 1e6 + F.lit(0.5)) / 1e6).alias("ks"),
        (
            F.col("d_scaled").cast("double") * F.col("d_scaled").cast("double")
            > thresh
        ).alias("drift"),
    )


def embedding_drift(
    emb: DataFrame,
    group: Column,
    scale: int = 1000,
    vec_col: str = "embedding",
    threshold: float = 1.0,
) -> DataFrame:
    """Embedding-space drift between two cohorts (``group`` = boolean
    cohort-A membership): squared distance between the cohort mean
    vectors — the linear-kernel MMD², the standard cheap detector for
    "did the representation distribution move" (new encoder version,
    upstream content shift) that categorical drift tests cannot see.

    Exactness choreography: each float32 component is affinely quantized
    to an integer (floor(x·scale + 0.5) — double-widened, deterministic),
    so per-dimension cohort sums are EXACT int64 and the per-dim mean
    difference ((sa·nb − sb·na)/(na·nb)) is one exact-integer division;
    terms are floored at 1e-6, the final sum at 1e-4 (drift-family
    pattern). Values are in quantized units (scale² × original). The
    int64 cross-products cap n_a·|q|·n_b ≈ 2^63 — beyond ~1e8 rows per
    cohort switch scale down or use the double mean form (documented
    trade).

    Scale shape: one corpus scan → posexplode → ONE (dim)-keyed hash
    aggregate with conditional partials (dim count is the vector width —
    a tiny, perfectly spread key space) → scalar fold. Returns one row:
    (n_a, n_b, n_dims, mmd2_q, top_dim, top_term, drift)."""
    rows = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(group.alias("g"), F.posexplode(vec_col).alias("pos", "x"))
        .select(
            "g",
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.col("x").cast("double") * scale + F.lit(0.5)).alias("q"),
        )
    )
    per_dim = rows.groupBy("dim").agg(
        F.sum(F.when(F.col("g"), F.col("q")).otherwise(F.lit(0))).alias("sa"),
        F.sum(F.when(~F.col("g"), F.col("q")).otherwise(F.lit(0))).alias("sb"),
        F.sum(F.when(F.col("g"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(~F.col("g"), 1).otherwise(0)).alias("nb"),
    )
    diff = (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).cast("double") / (
        F.col("na") * F.col("nb")
    )
    # per-dim terms as exact int64 micro-units (order-free final sum)
    term_u = F.floor(diff * diff * 1e6 + F.lit(0.5)).cast("long")
    terms = per_dim.select("dim", "na", "nb", term_u.alias("term_u"))
    out = terms.agg(
        F.coalesce(F.max("na"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.max("nb"), F.lit(0)).cast("long").alias("n_b"),
        F.count("*").cast("long").alias("n_dims"),
        # an empty cohort makes every per-dim division NULL (no comparison
        # is possible) — degrade to 0.0/false rather than NULL flags; the
        # n_a/n_b zeros make the degeneracy visible to the consumer
        F.coalesce(
            F.floor(F.sum("term_u").cast("double") / 100 + F.lit(0.5)) / 1e4,
            F.lit(0.0),
        ).alias("mmd2_q"),
        F.max(F.struct(F.col("term_u"), (-F.col("dim")).alias("nd"))).alias("__top"),
    )
    return out.select(
        "n_a",
        "n_b",
        "n_dims",
        "mmd2_q",
        (-F.col("__top.nd")).cast("long").alias("top_dim"),
        (F.coalesce(F.col("__top.term_u"), F.lit(0)).cast("double") / 1e6).alias(
            "top_term"
        ),
        (F.col("mmd2_q") > F.lit(threshold)).alias("drift"),
    )


def psi_from_counts(ref_counts: DataFrame, cur_counts: DataFrame) -> DataFrame:
    """Two-sample PSI on PRE-AGGREGATED category counts —
    (category, ref_cnt) vs (category, cur_cnt). This is the form the
    streaming drift gate uses so the reference mix can be carried
    incrementally (O(categories) state in the table manifest) instead of
    re-aggregating the whole published table per micro-batch.

    PSI itself runs on the category INTERSECTION (the ln is undefined
    one-sided — psi_drift rationale), but one-sided mass is NOT silently
    ignored: ``cur_unmatched_frac`` / ``ref_unmatched_frac`` report the
    exact fraction of each population in categories absent from the
    other. A batch whose categories are disjoint from the reference has
    psi = 0.0 over an empty intersection but cur_unmatched_frac = 1.0 —
    the maximal possible shift, which an ε-floored PSI would send to
    infinity; gates must threshold BOTH numbers. Totals come from the
    pre-join frames, so they are correct even when the intersection is
    empty. Returns one row: (psi, n_categories, n_ref, n_cur,
    cur_unmatched_frac, ref_unmatched_frac)."""
    a = ref_counts.select("category", F.col("ref_cnt"))
    b = cur_counts.select("category", F.col("cur_cnt"))
    at = a.agg(F.coalesce(F.sum("ref_cnt"), F.lit(0)).alias("ref_total"))
    bt = b.agg(F.coalesce(F.sum("cur_cnt"), F.lit(0)).alias("cur_total"))
    j = a.join(b, "category").crossJoin(F.broadcast(at)).crossJoin(F.broadcast(bt))
    p_cur = F.col("cur_cnt").cast("double") / F.col("cur_total")
    p_ref = F.col("ref_cnt").cast("double") / F.col("ref_total")
    ratio = (F.col("cur_cnt") * F.col("ref_total")).cast("double") / (
        F.col("ref_cnt") * F.col("cur_total")
    )
    # exact int64 micro-unit sum (see chisq_drift comment): order-free
    term_u = F.floor((p_cur - p_ref) * F.log(ratio) * 1e6 + F.lit(0.5)).cast("long")
    inter = j.agg(
        F.coalesce(
            F.floor(F.sum(term_u).cast("double") / 100 + F.lit(0.5)) / 1e4,
            F.lit(0.0),
        ).alias("psi"),
        F.count("*").cast("long").alias("n_categories"),
        F.coalesce(F.sum("ref_cnt"), F.lit(0)).alias("matched_ref"),
        F.coalesce(F.sum("cur_cnt"), F.lit(0)).alias("matched_cur"),
    )
    frac = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0,
        F.floor(num.cast("double") / F.col(den) * 1e6 + F.lit(0.5)) / 1e6,
    ).otherwise(F.lit(0.0))
    return (
        inter.crossJoin(F.broadcast(at))
        .crossJoin(F.broadcast(bt))
        .select(
            "psi",
            "n_categories",
            F.col("ref_total").cast("long").alias("n_ref"),
            F.col("cur_total").cast("long").alias("n_cur"),
            frac(F.col("cur_total") - F.col("matched_cur"), "cur_total").alias(
                "cur_unmatched_frac"
            ),
            frac(F.col("ref_total") - F.col("matched_ref"), "ref_total").alias(
                "ref_unmatched_frac"
            ),
        )
    )


def psi_two_sample(ref: DataFrame, cur: DataFrame, category: Column) -> DataFrame:
    """PSI between a reference sample's category mix and a current
    sample's — the two-frame form of :func:`psi_drift` (there periods
    pair with their predecessor inside ONE frame; here the caller holds
    the two populations, e.g. a published table vs an incoming
    micro-batch). Each side collapses to its category counts first
    (everything after runs on O(categories) rows), then
    :func:`psi_from_counts` — see there for the intersection/unmatched
    semantics and output columns."""
    a = (
        ref.select(category.alias("category"))
        .groupBy("category")
        .agg(F.count("*").alias("ref_cnt"))
    )
    b = (
        cur.select(category.alias("category"))
        .groupBy("category")
        .agg(F.count("*").alias("cur_cnt"))
    )
    return psi_from_counts(a, b)


def cusum_changepoint(
    df: DataFrame, time: Column, value_cents: Column
) -> DataFrame:
    """CUSUM changepoint detection over a keyed time series — the fifth
    member of the drift family (chisq/PSI = category mix, KS = numeric
    distribution, MMD = embeddings; CUSUM localizes WHEN a level shift
    happened): the changepoint estimate is argmax_t |Σ_{i<=t}(x_i − x̄)|,
    the classic cumulative-sum statistic.

    Exact-integer form: with per-period cents totals x_i, n periods and
    grand total S, CUSUM_t·n = n·(prefix_t) − t·S — every term int64, so
    the argmax and the tie-breaks are exact; the reported statistic
    divides once at the end (the drift.py choreography). Scale shape:
    one aggregation to O(periods) rows, one window cumsum ordered by
    period, one broadcast of the (n, S) scalar pair — the window runs on
    the aggregated frame, not the fact table, so the single-partition
    window is bounded by the period count (repartition by a coarser key
    and merge if periods themselves are huge).

    Output: one row — (changepoint, n_periods, cusum_scaled, direction)
    where direction is 'up' if the post-changepoint mean exceeds the
    pre-changepoint mean (sign of the CUSUM extremum: a negative
    extremum means the prefix ran BELOW the overall mean, i.e. the
    series stepped up after it).
    """
    from pyspark.sql import Window

    per = (
        df.select(time.alias("t"), value_cents.alias("c"))
        .groupBy("t")
        .agg(F.sum("c").alias("x"))
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    pre = per.select(
        "t",
        F.sum("x").over(w).alias("prefix"),
        F.row_number().over(Window.orderBy("t")).alias("i"),
    )
    tot = per.agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    scored = pre.crossJoin(F.broadcast(tot)).select(
        "t",
        "i",
        "n",
        (F.col("n") * F.col("prefix") - F.col("i") * F.col("s")).alias("cu_n"),
    )
    # argmax |cu_n|, tie-break on EARLIEST period via the (unique) rank i
    # — works for any orderable period type, no date round-trip; the
    # trailing t/cu fields just ride along (never reached: (a, -i) is
    # unique because i is)
    top = scored.select(
        "n",
        F.abs(F.col("cu_n")).alias("a"),
        (-F.col("i")).alias("ni"),
        F.col("t"),
        F.col("cu_n").alias("cu"),
    )
    best = top.agg(
        F.max(F.struct("a", "ni", "t", "cu")).alias("b"),
        F.max("n").alias("n_periods"),
    )
    return best.select(
        F.col("b.t").alias("changepoint"),
        F.col("n_periods").cast("long").alias("n_periods"),
        # |CUSUM| in display units rounded to 2dp: a/n is cents, so
        # floor(a/n + 0.5)/100 is round(cents)/100 in one step
        (
            F.floor(F.col("b.a").cast("double") / F.col("n_periods") + F.lit(0.5))
            / 100
        ).alias("cusum_scaled"),
        F.when(F.col("b.cu") < 0, F.lit("up")).otherwise(F.lit("down")).alias(
            "direction"
        ),
    )


def psi_binned(
    ref: DataFrame,
    cur: DataFrame,
    value_cents: Column,
    n_bins: int = 10,
    threshold: float = 0.2,
) -> DataFrame:
    """Numeric PSI over quantile bins — the industry-standard
    model-monitoring score for a CONTINUOUS feature (the categorical PSI
    needs categories; KS gives a yes/no test; this gives the
    thresholdable magnitude): bin edges are the reference sample's
    deciles (disc-percentiles — actual int64 cents values, engine-exact),
    both samples are histogrammed against those same edges, and
    PSI = Σ_bins (p_cur − p_b_ref) · ln(p_cur / p_ref) with add-one
    count smoothing so empty current bins stay finite (the ε-floor in
    its countable form).

    Duplicate edges (heavy ties) merge bins naturally — the bin index is
    Σ_i [x > e_i], so collapsed deciles leave some indices unreachable;
    the sum still runs over the FULL fixed ``n_bins`` domain (a bin
    empty in both samples contributes its smoothing term, which is
    nonzero whenever the sample sizes differ — dropping it would bias
    PSI low exactly when edges collapse). Float choreography: each probability is one
    division of exact int64s, the ln argument is one exact-int64-product
    ratio, terms floor to 1e-6 micro-units (order-free sum; drift.py
    pattern).

    Scale shape: one percentile aggregate over the reference (swap
    percentile_disc for approx_percentile at 100 TB — one line), the
    9-edge row broadcast onto both scans, two O(n_bins) histograms, and
    arithmetic on ≤ n_bins rows.
    """
    r = ref.select(value_cents.alias("c"))
    c = cur.select(value_cents.alias("c"))
    edge_cols = [
        F.expr(
            f"CAST(percentile_disc({i / n_bins}) WITHIN GROUP (ORDER BY c)"
            " AS BIGINT)"
        ).alias(f"e{i}")
        for i in range(1, n_bins)
    ]
    edges = r.agg(*edge_cols)

    def hist(df: DataFrame, out: str) -> DataFrame:
        x = df.crossJoin(F.broadcast(edges))
        b = F.lit(0)
        for i in range(1, n_bins):
            b = b + (F.col("c") > F.col(f"e{i}")).cast("int")
        return x.select(b.cast("long").alias("bin")).groupBy("bin").agg(
            F.count("*").alias(out)
        )

    rb = hist(r, "ref_cnt")
    cb = hist(c, "cur_cnt")
    domain = edges.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("b")
    ).select(F.col("b").cast("long").alias("bin"))
    j = (
        domain.join(rb, "bin", "left")
        .join(cb, "bin", "left")
        .select(
            "bin",
            F.coalesce(F.col("ref_cnt"), F.lit(0)).alias("ref_cnt"),
            F.coalesce(F.col("cur_cnt"), F.lit(0)).alias("cur_cnt"),
        )
        .crossJoin(
            F.broadcast(
                r.agg(F.count("*").alias("n_ref")).crossJoin(
                    c.agg(F.count("*").alias("n_cur"))
                )
            )
        )
    )
    b = F.lit(n_bins)
    p_cur = (F.col("cur_cnt") + 1).cast("double") / (F.col("n_cur") + b)
    p_ref = (F.col("ref_cnt") + 1).cast("double") / (F.col("n_ref") + b)
    ratio = ((F.col("cur_cnt") + 1) * (F.col("n_ref") + b)).cast("double") / (
        (F.col("ref_cnt") + 1) * (F.col("n_cur") + b)
    )
    term_u = F.floor((p_cur - p_ref) * F.log(ratio) * 1e6 + F.lit(0.5)).cast("long")
    psi = F.coalesce(
        F.floor(F.sum("term_u").cast("double") / 100 + F.lit(0.5)) / 1e4, F.lit(0.0)
    )
    return j.select("bin", "n_ref", "n_cur", term_u.alias("term_u")).agg(
        psi.alias("psi"),
        F.count("*").cast("long").alias("n_bins_used"),
        F.coalesce(F.max("n_ref"), F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce(F.max("n_cur"), F.lit(0)).cast("long").alias("n_cur"),
        (psi > F.lit(threshold)).alias("drift"),
    )


# Poisson(1) CDF as integer thresholds over the 24-bit md5 hash space:
# floor(P(X<=k) * 16^6) for k = 0..6 (k=7+ has probability < 6e-8 and
# collapses into the last bucket). Both engines compare the SAME integer
# literals against the SAME md5-derived uniform, so replicate weights are
# bit-reproducible — no RNG state, no engine RNG differences.
POISSON1_CDF_24BIT = (6171992, 12343985, 15429982, 16458647, 16715813, 16767247, 16775819)


def poisson_bootstrap_ci(
    df: DataFrame,
    key: Column,
    value_cents: Column,
    n_replicates: int = 32,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Distributed Poisson bootstrap confidence interval for a mean
    (Chamandy, Muralidharan, Najmi & Naidu 2012, "Estimating Uncertainty
    for Massive Data Streams" — the Google resampling scheme): the exact
    multinomial bootstrap needs the global row count per replicate, but
    Poisson(1) per-row weights approximate it with a PER-ROW LOCAL
    decision, which is the only kind a 100 TB scan can afford. Replicate
    b's weight for a row is the Poisson(1) inverse CDF applied to a
    md5(key:b) uniform — deterministic, partition-invariant, identically
    replayable by the oracle.

    All replicate sums are exact int64 (weights 0..7 times integer
    cents); each replicate mean does ONE division rounded to the 1e-6
    grid, and the CI bounds are percentile_disc over the n_replicates
    rounded means — actual data values, engine-exact.

    SCALE: one scan exploded x n_replicates (map-side), one hash
    aggregate of n_replicates rows, one tiny percentile pass. No
    resampled copies of the data are ever materialized.
    """
    b = F.explode(F.array(*[F.lit(i) for i in range(n_replicates)])).alias("b")
    rows = df.select(key.alias("__k"), value_cents.cast("long").alias("__c")).select(
        "__k", "__c", b
    )
    u = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit("boot"), F.col("__k"), F.col("b"))), 1, 6),
        16,
        10,
    ).cast("long")
    w = F.lit(7)
    for k in range(len(POISSON1_CDF_24BIT) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CDF_24BIT[k]), F.lit(k)).otherwise(w)
    reps = (
        rows.withColumn("__w", w)
        .groupBy("b")
        .agg(
            F.sum(F.col("__w") * F.col("__c")).alias("__swc"),
            F.sum("__w").alias("__sw"),
        )
        .select(
            "b",
            F.when(F.col("__sw") == 0, F.lit(0.0))
            .otherwise(
                F.floor(F.col("__swc").cast("double") / F.col("__sw") / 100 * 1e6 + F.lit(0.5))
                / 1e6
            )
            .alias("__mean"),
        )
    )
    full = df.select(
        F.count("*").cast("long").alias("n_rows"),
        F.when(F.count("*") == 0, F.lit(0.0))
        .otherwise(
            F.floor(
                F.sum(value_cents.cast("long")).cast("double") / F.count("*") / 100 * 1e6
                + F.lit(0.5)
            )
            / 1e6
        )
        .alias("mean_value"),
    )
    ci = reps.agg(
        F.count("*").cast("long").alias("n_replicates"),
        F.expr(f"percentile_disc({lo}) WITHIN GROUP (ORDER BY __mean)").alias("boot_lo"),
        F.expr(f"percentile_disc({hi}) WITHIN GROUP (ORDER BY __mean)").alias("boot_hi"),
    )
    return full.crossJoin(F.broadcast(ci)).select(
        "n_rows", "mean_value", "n_replicates", "boot_lo", "boot_hi"
    )

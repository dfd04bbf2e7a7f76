"""Physical-plan assertions — the 100 TB design contract, checked at
sf0.001. A query that passes correctness but plans a cartesian product or
a full-column scan would fail here before it fails at scale.
"""

from pyspark.sql import functions as F

from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES
from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_smoke):
    """clean_filter's predicates must appear as PushedFilters on the
    parquet scan, not as a post-scan Filter only."""
    df = QUERIES["clean_filter"](spark, sf_smoke)
    txt = formatted(df)
    assert "PushedFilters" in txt
    compact = txt.replace(" ", "")
    assert "GreaterThan(l_quantity,25" in compact, txt
    assert "GreaterThan(l_extendedprice,0" in compact, txt


def test_column_pruning_reads_subset(spark, sf_smoke):
    """sales_summary needs only 4 of 11 lineitem columns; ReadSchema must
    not contain the unused ones."""
    df = QUERIES["sales_summary"](spark, sf_smoke)
    txt = formatted(df)
    read_schema_lines = [l for l in txt.splitlines() if "ReadSchema" in l]
    assert read_schema_lines, txt
    joined = " ".join(read_schema_lines)
    assert "l_comment" not in joined
    assert "l_tax" not in joined and "l_discount" not in joined


def test_dim_joins_are_broadcast(spark, sf_smoke):
    """brand_revenue and q5 must use BroadcastHashJoin for dimension sides
    — the fact table never shuffles for a dim join."""
    for name in ("brand_revenue", "q5_region_revenue"):
        txt = plan_of(QUERIES[name](spark, sf_smoke))
        assert "BroadcastHashJoin" in txt, f"{name} lost its broadcast:\n{txt}"


def test_no_cartesian_in_dedup(spark, sf_smoke):
    """The jaccard/minhash family must never plan a cartesian/BNL join —
    candidate generation is equi-join only."""
    for name in ("ngram_jaccard_pairs", "minhash_candidates"):
        txt = plan_of(QUERIES[name](spark, sf_smoke))
        assert "CartesianProduct" not in txt, name
        assert "BroadcastNestedLoopJoin" not in txt, name


def test_top100_uses_take_ordered(spark, sf_smoke):
    """Global top-k must plan TakeOrderedAndProject, not a full sort."""
    txt = plan_of(QUERIES["top100_orders"](spark, sf_smoke))
    assert "TakeOrderedAndProject" in txt, txt


def test_aggregation_is_partial_then_final(spark, sf_smoke):
    """sales_summary must plan two-phase hash aggregation (map-side
    partial before the exchange)."""
    txt = plan_of(QUERIES["sales_summary"](spark, sf_smoke))
    assert txt.count("HashAggregate") >= 2, txt


def test_whole_stage_codegen_active(spark, sf_smoke):
    """The scan→filter→agg pipeline of the flagship must run inside
    WholeStageCodegen spans (no Python/interpreted breaks). Formatted
    mode marks them as `[codegen id : N]` (AQE hides the tree in the
    simple string until execution). Execute first so AQE finalizes; the
    `*(n)` prefix in the simple plan string marks codegen spans."""
    df = QUERIES["sales_summary"](spark, sf_smoke)
    df.collect()
    txt = plan_of(df)
    assert "*(" in txt, txt


def test_sales_summary_single_scan(spark, sf_smoke):
    """The flagship must scan lineitem exactly once — the two-channel
    union must not plan two scans of the same fact table."""
    txt = formatted(QUERIES["sales_summary"](spark, sf_smoke))
    # formatted mode prints each scan once in the tree and once in the
    # detail section; `Location:` appears exactly once per physical scan
    assert txt.count("Location:") == 1, txt


def test_asof_join_has_no_join_node(spark, sf_smoke):
    """The as-of join must plan as window-over-union — no join operator,
    no cartesian product (the naive inequality-join formulation would)."""
    txt = formatted(QUERIES["asof_event_ticks"](spark, sf_smoke))
    assert "CartesianProduct" not in txt
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt
    assert "Window" in txt


def test_range_join_is_broadcast_nested_loop(spark, sf_smoke):
    """The interval join against a 5-row calendar must broadcast the tiny
    side (BroadcastNestedLoopJoin), never shuffle the fact table."""
    txt = formatted(QUERIES["range_join_promos"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in txt, txt


def test_q6_all_predicates_pushed(spark, sf_smoke):
    """Q6 is the canonical pushdown test: every predicate must reach the
    scan and the ReadSchema must carry only the 4 needed columns."""
    txt = formatted(QUERIES["q6_revenue_forecast"](spark, sf_smoke))
    compact = txt.replace(" ", "")
    assert "GreaterThanOrEqual(l_shipdate" in compact, txt
    assert "GreaterThanOrEqual(l_discount,0.05)" in compact, txt
    assert "LessThan(l_quantity,24" in compact, txt
    read = [l for l in txt.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read and "l_partkey" not in read and "l_tax" not in read


def test_q10_take_ordered_top20(spark, sf_smoke):
    txt = plan_of(QUERIES["q10_returned_customers"](spark, sf_smoke))
    assert "TakeOrderedAndProject" in txt, txt


def test_crossdoc_scrub_is_equijoin_only(spark, sf_smoke):
    """crossdoc_ngram_scrub (round 3) must plan shared-gram detection and
    position anti-join as shuffled/broadcast EQUI-joins — never a
    cartesian/BNL — and keep an anti join for the kept-position set."""
    txt = plan_of(QUERIES["crossdoc_ngram_scrub"](spark, sf_smoke))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "LeftAnti" in txt, txt


def test_repetition_stats_two_phase_agg(spark, sf_smoke):
    """repetition_stats gram counting must be a partial->final hash
    aggregate (map-side combine), not a single-exchange full agg."""
    txt = plan_of(QUERIES["repetition_stats"](spark, sf_smoke))
    assert "CartesianProduct" not in txt
    assert txt.count("HashAggregate") >= 2, txt


def test_containment_is_equijoin_only(spark, sf_smoke):
    """containment_pairs must candidate-generate via the shingle
    inverted-index equi-join — a cartesian product here is the all-pairs
    trap that kills near-dup at corpus scale."""
    df = QUERIES["containment_pairs"](spark, sf_smoke)
    txt = plan_of(df)
    assert "CartesianProduct" not in txt
    assert "SortMergeJoin" in txt or "ShuffledHashJoin" in txt or "BroadcastHashJoin" in txt


def test_shard_assignment_has_no_global_window(spark, sf_smoke):
    """shard_assignment's rank windows must all be PARTITIONED (by the
    md5-prefix bucket) — a Window with an empty partition spec funnels
    the corpus through one task, the single-partition bottleneck the
    two-phase rank exists to avoid. The only unpartitioned window
    allowed is the one over the 256-row bucket-offset frame, which the
    plan shows ordered by __b (bucket), never by __k (per-row key)."""
    df = QUERIES["shard_assignment"](spark, sf_smoke)
    txt = plan_of(df)
    import re

    matches = list(re.finditer(r"Window \[[^\]]*row_number\(\)[^\]]*\]([^\n]*)", txt))
    assert matches, f"no row_number window found in plan:\n{txt}"
    for m in matches:
        line = m.group(0)
        assert "__b" in line, f"row_number window not bucket-partitioned: {line}"


def test_token_diversity_two_phase_agg(spark, sf_smoke):
    """Both aggregates (doc×token counts, per-doc moments) must be
    partial-then-final hash aggregates — map-side combine keeps the
    token-explosion shuffle proportional to distinct (doc, token)."""
    df = QUERIES["token_diversity"](spark, sf_smoke)
    txt = plan_of(df)
    assert txt.count("HashAggregate") >= 4  # two aggs x partial+final
    assert "CartesianProduct" not in txt


def test_drift_family_single_fact_scan(spark, sf_smoke):
    """psi_drift / chisq_drift must aggregate the fact table ONCE: the
    tiny period×category counts frame goes to a reliable checkpoint
    (cachectl.shared_frame) and all three consumers (totals,
    current, previous) re-read the files — the returned plan contains NO
    live parquet scan of the fact table and NOTHING cached (a persist
    here would leak for the session; the checkpoint lives on disk)."""
    for name in ("psi_drift_priority", "chisq_drift_priority"):
        df = QUERIES[name](spark, sf_smoke)
        txt = plan_of(df)
        assert txt.count("Scan parquet") == 0, (name, txt)
        assert "InMemoryTableScan" not in txt, (name, txt)
        assert (
            spark.sparkContext._jsc.getPersistentRDDs().size() == 0
        ), name  # checkpoint files, not storage-pool blocks


def test_embedding_mmd_single_scan_one_agg(spark, sf_smoke):
    """embedding_mmd_drift: one embeddings scan, posexplode, one dim-keyed
    partial+final aggregate — no joins, no cartesian, no window over the
    exploded rows."""
    df = QUERIES["embedding_mmd_drift"](spark, sf_smoke)
    txt = plan_of(df)
    assert txt.count("Scan parquet") == 1, txt
    assert "CartesianProduct" not in txt
    assert "Generate posexplode" in txt or "Generate" in txt


def test_curriculum_order_windows_are_partitioned(spark, sf_smoke):
    """distributed_rank must never plan a Window with an empty partition
    spec over corpus rows — the per-row rank window is keyed by the range
    partition id; only the tiny offset frame uses an ordered window."""
    df = QUERIES["curriculum_order"](spark, sf_smoke)
    txt = plan_of(df)
    import re

    for m in re.finditer(r"Window \[[^\n]*row_number\(\)[^\n]*", txt):
        assert "__pid" in m.group(0), m.group(0)


def test_span_corruption_spec_has_no_keyed_exchange(spark, sf_smoke):
    """The mask spec is pure per-doc array expressions: no hash/range
    exchange anywhere (the one RoundRobin exchange is functions.spread
    fanning the small single-file scan across cores — partitioning by
    nothing, data-independent). At scale the pass is map-only."""
    txt = plan_of(QUERIES["span_corruption_spec"](spark, sf_smoke))
    assert "hashpartitioning" not in txt.lower()
    assert "rangepartitioning" not in txt.lower()


def test_benchmark_decontam_broadcasts_bench_side(spark, sf_smoke):
    """Decontamination probes training windows against the (small)
    benchmark hash set: the plan must join via broadcast (bench side
    moves, corpus side stays partitioned) and contain no cartesian
    product or sort-merge of the full window frame against itself."""
    txt = plan_of(QUERIES["benchmark_decontam"](spark, sf_smoke))
    assert "BroadcastHashJoin" in txt or "BroadcastExchange" in txt
    assert "CartesianProduct" not in txt


def test_exact_substring_no_pair_join(spark, sf_smoke):
    """ExactSubstr never joins documents against documents: every join
    key is the window hash or doc_id (mark-back + report join), so the
    plan has equi-joins only — no cartesian, no nested loop."""
    for q in ("exact_substring_spans", "exact_substring_report"):
        txt = plan_of(QUERIES[q](spark, sf_smoke))
        assert "CartesianProduct" not in txt, q
        assert "BroadcastNestedLoopJoin" not in txt, q


def test_bq_screen_corpus_side_never_shuffles_before_screen(spark, sf_smoke):
    """The BQ screen joins corpus signatures against a BROADCAST query
    batch (BroadcastNestedLoopJoin by design — bounded build side), so
    the corpus never shuffles before the Hamming filter; the only
    exchanges are the rerank join and the per-query top-k window."""
    txt = plan_of(QUERIES["bq_ann"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in txt
    assert "CartesianProduct" not in txt


def test_zscore_default_has_no_python_stage(spark, sf_smoke):
    """The default zscore_per_user must be pure JVM — two-phase hash
    aggregate + join, no Arrow/Python evaluation anywhere in the plan.
    The applyInPandas twin stays registered as zscore_per_user_arrow
    (which DOES plan a FlatMapGroupsInPandas)."""
    txt = plan_of(QUERIES["zscore_per_user"](spark, sf_smoke))
    for marker in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in txt, (marker, txt)
    assert txt.count("HashAggregate") >= 2, txt
    arrow = plan_of(QUERIES["zscore_per_user_arrow"](spark, sf_smoke))
    assert "FlatMapGroupsInPandas" in arrow, arrow


def test_matryoshka_recall_single_corpus_scan(spark, sf_smoke):
    """matryoshka_recall must compute ALL dimension budgets from ONE
    scoring pass: every per-budget cosine comes out of a single exploded
    projection, and the tiny top-k frame is repartition-barriered so the
    truth self-join re-reads that one exchange (ReusedExchange in the
    executed plan) instead of re-running the scoring — the old shape ran
    one full brute-force ranker per budget (len(dims)+1 corpus scans).
    The scoring itself must appear as ONE window pass over the exploded
    (dim_budget, cos) rows, not one window per budget."""
    df = QUERIES["matryoshka_recall"](spark, sf_smoke)
    df.collect()
    txt = plan_of(df)
    assert "ReusedExchange" in txt, txt
    # one row_number ranking window keyed (q_id, dim_budget) — were the
    # budgets still separate knn calls there would be one per budget
    import re

    windows = set(re.findall(r"row_number\(\).*?dim_budget[^\n]*", txt))
    assert windows, txt


def test_source_overlap_matrix_has_no_corpus_self_join(spark, sf_smoke):
    """r8 rewrite: the cross-source fingerprint matrix is ONE
    groupBy(fp)/collect_set aggregate with in-row pair explosion — the
    former corpus-sized fp self-join (SortMergeJoin over two full
    fingerprint sets) must not reappear. The only joins left are the two
    broadcast joins against the tiny per-source size frame, and the
    source label rides the fingerprint projection (no doc_id join back
    to the corpus)."""
    df = QUERIES["source_overlap_matrix"](spark, sf_smoke)
    df.collect()
    txt = plan_of(df)
    assert "SortMergeJoin" not in txt, txt
    assert "ShuffledHashJoin" not in txt, txt
    # the remaining joins are broadcasts of the tiny size frames (AQE may
    # fold reused subtrees, so pin the KIND, not an exact count)
    assert "BroadcastHashJoin" in txt, txt


def test_doc_novelty_single_shingle_pass_no_join(spark, sf_smoke):
    """r11 rewrite: the per-shingle first occurrence is a window MIN
    over one repartition("shingle") — the former groupBy+join-back ran
    the Arrow shingle pass on BOTH join sides. Pin: exactly one
    MapInPandas (one corpus shingle scan) and no join of any kind."""
    df = QUERIES["doc_novelty"](spark, sf_smoke)
    df.collect()
    txt = plan_of(df)
    # the AQE toString prints Final and Initial plans; count in Final only
    final = txt.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, txt
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert j not in txt, txt


def test_heaps_prefix_sum_windows_are_bucketed(spark, sf_smoke):
    """r9 verdict #2 + r10 verdict #5: heaps_law_fit's global prefix sum
    must not plan an unpartitioned Window over per-document rows — the
    per-doc running sum is PARTITIONED by the doc_id range bucket, and
    since r11 the bucket offsets come from a bounded driver-side probe
    (no ordered-only window remains AT ALL). The returned plan must also
    tokenize the corpus exactly ONCE (the former shape re-ran
    regexp_extract_all in a second branch and joined the tokenized
    corpus back by doc_id)."""
    import re

    df = QUERIES["heaps_law_fit"](spark, sf_smoke)
    txt = plan_of(df)
    wins = re.findall(r"Window \[[^\n]*", txt)
    assert wins, txt
    for line in wins:
        assert re.search(r"windowspecdefinition\(__bucket#\d+L?, ", line), line
    assert txt.count("regexp_extract_all") == 1, txt


def test_zipf_rank_windows_are_bucketed(spark, sf_smoke):
    """r10 verdict #1 (+ r11 review): zipf_law_fit's global vocabulary
    rank must not plan an unpartitioned Window over per-token (or
    per-class) rows — the class-offset running sum is PARTITIONED by
    the frequency-range bucket, and since the r11 review the bucket
    offsets come from a bounded driver probe (no ordered-only window
    AND no second corpus lineage in the plan). Ranks themselves are
    ENUMERATED per frequency class (sequence-explode), so no Window
    ever sees the vocabulary."""
    import re

    df = QUERIES["zipf_law_fit"](spark, sf_smoke)
    txt = plan_of(df)
    wins = re.findall(r"Window \[[^\n]*", txt)
    assert wins, txt
    for line in wins:
        assert re.search(r"windowspecdefinition\(__bucket#\d+L?, ", line), line
    # no rank window over the vocabulary at all — ranks come from
    # sequence() chunks — and the corpus is tokenized exactly once
    assert "row_number" not in txt, txt
    assert "Generate explode(sequence" in txt or "explode(sequence" in txt, txt
    assert txt.count("regexp_extract_all") == 1, txt


def test_ks_drift_ecdf_windows_are_bucketed(spark, sf_smoke):
    """r9 verdict #2 sweep: ks_drift's ECDF cumulative sums over the
    distinct-value domain are PARTITIONED by the value-range bucket;
    only the bucket-totals frame (__ba/__bb) sees an ordered-only
    window."""
    import re

    df = QUERIES["ks_drift_totalprice"](spark, sf_smoke)
    txt = plan_of(df)
    wins = re.findall(r"Window \[[^\n]*", txt)
    assert wins, txt
    for line in wins:
        if "sum(da#" in line or "sum(db#" in line:  # per-value ECDF sums
            assert re.search(r"windowspecdefinition\(__bucket#\d+L?, ", line), line
        else:
            assert "__ba" in line or "__bb" in line, line


def test_pmi_topk_is_take_ordered(spark, sf_smoke):
    """ADVICE r9: pmi_cooccurrence's top-k must plan as
    TakeOrderedAndProject (per-partition bounded top-k, merged on the
    driver) — never a row_number over an unpartitioned window that
    funnels every surviving pair through one task."""
    df = QUERIES["pmi_cooccurrence"](spark, sf_smoke)
    txt = plan_of(df)
    assert "TakeOrderedAndProject" in txt, txt
    assert "row_number" not in txt, txt


def test_source_divergence_pair_fanout_is_constant_folded(spark, sf_smoke):
    """ADVICE r9: the O(S²) source-pair fan-out must reach the plan as
    ONE constant-folded literal array under a single Generate explode —
    not one struct arm per pair inlined into a projection (which blew
    whole-stage codegen's 64 KB method limit at ~20 sources and fell
    back to interpreted evaluation)."""
    import re

    df = QUERIES["source_token_divergence"](spark, sf_smoke)
    txt = plan_of(df)
    # the explode input prints as a literal array of [a,b,na,nb] structs
    m = re.search(r"Generate explode\(\[\[", txt)
    assert m, txt

"""Per-layer metrics of a traced run, and which end-to-end metric each one
should move on which workload.

Layer names are the engine's module names. Counters come from the spans
the benchmark records around its calls into each module (``spans.py``),
summed per traced pass and reported as the median over traced passes, and
from what the workload leaves on disk or reads from the streaming query.
"""

from __future__ import annotations

import statistics

from spans import STAGE_COUNTERS

WORKLOAD_NAMES = ["retail_etl", "corpus_ingest"]

OPERATOR_GROUPS = ["joins", "aggregate", "windows", "temporal_joins", "dedup", "similarity", "bpe", "text"]
OPERATOR_COUNTERS = [
    ("wall_s", "s", "lower"),
    ("driver_only_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
]

PER_LAYER = [
    {"name": "session.get_spark_s", "unit": "s", "better": "lower"},
    {"name": "session.warmup_s", "unit": "s", "better": "lower"},
    {"name": "session.jvm_rss_mb", "unit": "MB", "better": "lower"},
    {"name": "sources.scan_s", "unit": "s", "better": "lower"},
    {"name": "sources.input_rows", "unit": "count", "better": "lower"},
    {"name": "sources.input_bytes", "unit": "bytes", "better": "lower"},
    {"name": "sources.executor_cpu_s", "unit": "s", "better": "lower"},
    {"name": "sources.driver_only_s", "unit": "s", "better": "lower"},
    {"name": "plans.retail.transform_s", "unit": "s", "better": "lower"},
    {"name": "plans.retail.shuffle_write_bytes", "unit": "bytes", "better": "lower"},
    {"name": "plans.retail.executor_cpu_s", "unit": "s", "better": "lower"},
    {"name": "sinks.write_parquet_s", "unit": "s", "better": "lower"},
    {"name": "sinks.write_csv_single_file_s", "unit": "s", "better": "lower"},
    {"name": "sinks.write_jdbc_replace_s", "unit": "s", "better": "lower"},
    {"name": "sinks.output_bytes", "unit": "bytes", "better": "lower"},
    {"name": "sinks.output_files", "unit": "count", "better": "lower"},
    {"name": "sinks.driver_only_s", "unit": "s", "better": "lower"},
    {"name": "plans.daily.run_daily_s", "unit": "s", "better": "lower"},
    {"name": "plans.daily.input_bytes", "unit": "bytes", "better": "lower"},
    {"name": "plans.daily.driver_only_s", "unit": "s", "better": "lower"},
    {"name": "versioned.write_audit_publish_s", "unit": "s", "better": "lower"},
    {"name": "versioned.files_committed", "unit": "count", "better": "lower"},
    {"name": "versioned.bytes_committed", "unit": "bytes", "better": "lower"},
    *(
        {"name": f"operators.{g}.{c}", "unit": u, "better": b}
        for g in OPERATOR_GROUPS
        for c, u, b in OPERATOR_COUNTERS
    ),
    {"name": "streaming.ingest.trigger_ms", "unit": "ms", "better": "lower"},
    {"name": "streaming.ingest.add_batch_ms", "unit": "ms", "better": "lower"},
    {"name": "streaming.ingest.wal_commit_ms", "unit": "ms", "better": "lower"},
    {"name": "streaming.ingest.batches", "unit": "count", "better": "higher"},
    {"name": "plans.incremental_corpus.accepted_frac", "unit": "ratio", "better": "higher"},
    {"name": "plans.incremental_corpus.state_files", "unit": "count", "better": "lower"},
    {"name": "plans.incremental_corpus.state_bytes", "unit": "bytes", "better": "lower"},
    {"name": "plans.incremental_corpus.driver_only_s", "unit": "s", "better": "lower"},
    {"name": "plans.incremental_corpus.shuffle_write_bytes", "unit": "bytes", "better": "lower"},
    {"name": "cachectl.leaked_rdds", "unit": "count", "better": "lower"},
    {"name": "spark.failed_tasks", "unit": "count", "better": "lower"},
    {"name": "spark.gc_s", "unit": "s", "better": "lower"},
    {"name": "trace.overhead_s", "unit": "s", "better": "lower"},
]

# For each layer (metric-name prefix): the end-to-end metrics a change
# there should move, the workload where they move, and the workload where
# every end-to-end metric should stay flat. job_p50_s and job_tail_s move
# only for layers whose jobs sit near the middle of the job-latency ranking
# (retail sinks, daily runs and registry queries, and the stream's
# micro-batches); the transform and the versioned commit are among the ten
# slowest jobs of a retail run, beyond the p61.5 that job_tail_s reads, so
# changes there show in pass_s and rows_per_s. corpus_ingest's job_tail_s
# (p28.6) is below its median and reads the slower bpe_top_merges run.
PREDICTIONS = {
    "session.": (["setup_s", "peak_rss_mb"], "retail_etl corpus_ingest", None),
    "sources.": (["rows_per_s", "pass_s"], "retail_etl", "corpus_ingest"),
    "plans.retail.": (["pass_s", "rows_per_s"], "retail_etl", "corpus_ingest"),
    "sinks.": (["pass_s", "job_p50_s", "stored_bytes_per_input_byte"], "retail_etl", "corpus_ingest"),
    "plans.daily.": (["job_p50_s", "job_tail_s"], "retail_etl", "corpus_ingest"),
    "versioned.": (["pass_s", "stored_bytes_per_input_byte"], "retail_etl", "corpus_ingest"),
    "operators.joins.": (["job_p50_s", "job_tail_s"], "retail_etl", "corpus_ingest"),
    "operators.aggregate.": (["job_p50_s", "job_tail_s"], "retail_etl", "corpus_ingest"),
    "operators.windows.": (["job_p50_s", "job_tail_s"], "retail_etl", "corpus_ingest"),
    "operators.temporal_joins.": (["job_p50_s", "job_tail_s"], "retail_etl", "corpus_ingest"),
    "operators.dedup.": (["pass_s", "rows_per_s"], "corpus_ingest", "retail_etl"),
    "operators.similarity.": (["pass_s", "rows_per_s"], "corpus_ingest", "retail_etl"),
    "operators.bpe.": (["pass_s", "rows_per_s", "job_tail_s"], "corpus_ingest", "retail_etl"),
    "operators.text.": (["pass_s", "rows_per_s"], "corpus_ingest", "retail_etl"),
    "streaming.ingest.": (["job_p50_s", "pass_s"], "corpus_ingest", "retail_etl"),
    "plans.incremental_corpus.": (["job_p50_s", "stored_bytes_per_input_byte"], "corpus_ingest", "retail_etl"),
    "cachectl.": (["failed_frac"], "retail_etl corpus_ingest", None),
    "spark.": (["failed_frac", "peak_rss_mb"], "retail_etl corpus_ingest", None),
    "trace.": ([], None, "retail_etl corpus_ingest"),
}


def layer_totals(spans: list[dict]) -> list[dict]:
    """One ``{layer: {counter: sum}}`` per traced pass, over its job spans;
    ``calls`` holds the wall seconds per called function."""
    by_pass: dict[str, dict] = {}
    for s in spans:
        if s.get("parent") and "jobs" in s:
            acc = by_pass.setdefault(s["parent"], {}).setdefault(s["layer"], {"calls": {}})
            wall = s["end"] - s["start"]
            acc["calls"][s["name"]] = acc["calls"].get(s["name"], 0) + wall
            acc["wall_s"] = acc.get("wall_s", 0) + wall
            for k in ("jobs", "driver_only_s", *STAGE_COUNTERS):
                acc[k] = acc.get(k, 0) + s[k]
    return list(by_pass.values())


def per_layer_metrics(res: dict) -> dict[str, tuple[float, str]]:
    """Reduce a traced worker result to ``{metric: (value, unit)}`` for
    every name in ``PER_LAYER``; a layer the workload never calls reads 0."""
    passes = layer_totals(res["spans"])

    def med(layer: str, counter: str, call: str | None = None) -> float:
        vals = []
        for p in passes:
            acc = p.get(layer, {})
            vals.append(acc.get("calls", {}).get(call, 0.0) if call else acc.get(counter, 0))
        return float(statistics.median(vals)) if vals else 0.0

    extra = res["extra"]
    v = {
        "session.get_spark_s": res["session"]["get_spark_s"],
        "session.warmup_s": res["session"]["warmup_s"],
        "session.jvm_rss_mb": res["session"]["jvm_rss_mb"],
        "sources.scan_s": med("sources", "wall_s"),
        "sources.input_rows": med("sources", "input_rows"),
        "sources.input_bytes": med("sources", "input_bytes"),
        "sources.executor_cpu_s": med("sources", "executor_cpu_s"),
        "sources.driver_only_s": med("sources", "driver_only_s"),
        "plans.retail.transform_s": med("plans.retail", "wall_s"),
        "plans.retail.shuffle_write_bytes": med("plans.retail", "shuffle_write_bytes"),
        "plans.retail.executor_cpu_s": med("plans.retail", "executor_cpu_s"),
        "sinks.write_parquet_s": med("sinks", None, "write_parquet"),
        "sinks.write_csv_single_file_s": med("sinks", None, "write_csv_single_file"),
        "sinks.write_jdbc_replace_s": med("sinks", None, "write_jdbc_replace"),
        "sinks.output_bytes": extra.get("sink_bytes", 0),
        "sinks.output_files": extra.get("sink_files", 0),
        "sinks.driver_only_s": med("sinks", "driver_only_s"),
        "plans.daily.run_daily_s": med("plans.daily", "wall_s"),
        "plans.daily.input_bytes": med("plans.daily", "input_bytes"),
        "plans.daily.driver_only_s": med("plans.daily", "driver_only_s"),
        "versioned.write_audit_publish_s": med("versioned", "wall_s"),
        "versioned.files_committed": extra.get("files_committed", 0),
        "versioned.bytes_committed": extra.get("bytes_committed", 0),
        "streaming.ingest.trigger_ms": extra.get("trigger_ms", 0),
        "streaming.ingest.add_batch_ms": extra.get("add_batch_ms", 0),
        "streaming.ingest.wal_commit_ms": extra.get("wal_commit_ms", 0),
        "streaming.ingest.batches": extra.get("batches", 0),
        "plans.incremental_corpus.accepted_frac": extra.get("accepted_frac", 0),
        "plans.incremental_corpus.state_files": extra.get("state_files", 0),
        "plans.incremental_corpus.state_bytes": extra.get("state_bytes", 0),
        "plans.incremental_corpus.driver_only_s": med("streaming.ingest", "driver_only_s"),
        "plans.incremental_corpus.shuffle_write_bytes": med("streaming.ingest", "shuffle_write_bytes"),
        "cachectl.leaked_rdds": res["leaked_rdds"],
        "spark.failed_tasks": float(statistics.median(sum(a.get("failed_tasks", 0) for a in p.values()) for p in passes)),
        "spark.gc_s": float(statistics.median(sum(a.get("gc_s", 0) for a in p.values()) for p in passes)),
    }
    for g in OPERATOR_GROUPS:
        for c, _, _ in OPERATOR_COUNTERS:
            v[f"operators.{g}.{c}"] = med(f"operators.{g}", c)
    traced = [p["seconds"] for p in res["passes"] if p["traced"]]
    plain = [p["seconds"] for p in res["passes"] if not p["traced"] and not p["settle"]]
    v["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    units = {m["name"]: m["unit"] for m in PER_LAYER}
    return {m["name"]: (float(v[m["name"]]), units[m["name"]]) for m in PER_LAYER}

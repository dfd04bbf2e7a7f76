"""The benchmark's workloads: which engine calls one pass makes, in what
order, and how every output is checked against an independent DuckDB
computation over the same generated files.

A pass is a list of jobs run back to back by one client (closed loop). A
job is one registry query, one pipeline stage, one daily partition run or
one stream micro-batch run; each is timed with its result consumed.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
from decimal import Decimal

import duckdb
import numpy as np

from etl_pipeline_for_retail_sales_data_spark import queries_registry as QR
from etl_pipeline_for_retail_sales_data_spark import sinks, versioned
from etl_pipeline_for_retail_sales_data_spark.operators.cleaning import to_typed
from etl_pipeline_for_retail_sales_data_spark.operators.quality import non_negative, not_null
from etl_pipeline_for_retail_sales_data_spark.operators.union_ops import union_sources
from etl_pipeline_for_retail_sales_data_spark.plans import daily, retail
from etl_pipeline_for_retail_sales_data_spark.schemas import TESTDATA_TABLES
from etl_pipeline_for_retail_sales_data_spark.sources.readers import read_jdbc, read_sales_csv
from etl_pipeline_for_retail_sales_data_spark.streaming.ingest import stream_ingest_exact

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"

# Registry queries of each workload, each mapped to the operator module
# that does its heavy work (read from the registry entry). Chosen by the
# layer they load, not by how they fare against their oracle.
RELATIONAL_QUERIES = {
    "q3_shipping_priority": "operators.joins",
    "q1_pricing_summary": "operators.aggregate",
    "top3_lines_per_brand": "operators.windows",
    "asof_event_ticks": "operators.temporal_joins",
}
CORPUS_QUERIES = {
    "text_stats": "operators.text",
    "minhash_candidates": "operators.dedup",
    "ppjoin_jaccard": "operators.similarity",
    "bpe_top_merges": "operators.bpe",
}


# ---------------------------------------------------------------- checking


def _norm(v):
    if isinstance(v, (float, np.floating)):
        return ("f", "NaN") if math.isnan(v) else ("f", round(float(v), 6) + 0.0)
    if isinstance(v, Decimal):
        return ("f", round(float(v), 6) + 0.0)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "asDict"):  # a nested Row
        return tuple(_norm(x) for x in v)
    return v


def normalize(columns: list[str], rows) -> list[tuple]:
    """Order-insensitive canonical form: columns sorted by name, values
    type-tagged, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda row: tuple((v is None, str(v)) for v in row))


def spark_rows(df) -> list[tuple]:
    return normalize(df.columns, df.collect())


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    rel = con.sql(sql)
    return normalize(rel.columns, rel.fetchall())


def same(expected: list[tuple], got: list[tuple]) -> bool:
    """Row-for-row equality; floats agree to 1e-6 relative or 0.011
    absolute (a 2-decimal rounded sum may round the other way when the
    two engines add in another order)."""
    if len(expected) != len(got):
        return False

    def eq(a, b):
        if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
            if len(a) == 2 and a[0] == "f" and b[0] == "f":
                if a[1] == b[1]:
                    return True
                if "NaN" in (a[1], b[1]):
                    return False
                return abs(a[1] - b[1]) <= max(1e-6 * max(abs(a[1]), abs(b[1])), 0.011)
            return all(eq(x, y) for x, y in zip(a, b))
        return a == b

    return all(eq(a, b) for a, b in zip(expected, got))


# ---------------------------------------------------------------- workloads


class Workload:
    """One benchmark workload over generated inputs in ``work``.

    ``run_pass(tracer, rng)`` runs one pass and returns each job's
    seconds; ``check(oracle_cache)`` compares the last pass's outputs (and
    the recorded query results) with the expected ones and returns a list
    of mismatch descriptions."""

    name = ""
    # passes an untraced run makes even when --seconds are over sooner.
    # The first pass after the warm-up pass is still a few percent slower
    # than the next, so every run must time the same number of passes; the
    # jobs of that many passes also fix the percentile that job_tail_s
    # reports
    min_passes = 2

    def __init__(self, spark, inputs: dict, work: str):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.results: dict = {}  # job -> its output in the last pass
        self.mismatches: list[str] = []

    def stored_bytes(self) -> int:
        total = 0
        for root in self.output_dirs():
            for dirpath, _, files in os.walk(root):
                total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    def output_dirs(self) -> list[str]:
        return []

    def trace_extra(self) -> dict:
        """Counters read from disk or the streaming query after a pass."""
        return {}

    def expected(self, rows):
        """``rows``, or a deliberately wrong copy (the first row dropped)
        when the run was asked to prove that the correctness gate fires."""
        return rows[1:] if self.inputs.get("expect_wrong") else rows

    def _query_job(self, tracer, pass_span, name, layer):
        fn, sf = QR.QUERIES[name], self.inputs["sf"]

        def run():
            df = fn(self.spark, sf)
            return df.columns, df.collect()

        out, seconds = tracer.job(layer, name, run, parent=pass_span)
        self.results[name] = None if out is None else normalize(*out)
        return seconds

    def check_queries(self, names, oracle_cache: dict) -> None:
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.inputs['sf']}/{t}.parquet')")
        for name in names:
            if name not in oracle_cache:
                oracle_cache[name] = self.expected(duck_rows(con, QR.ORACLES[name]))
            got = self.results.get(name)
            if got is None or not same(oracle_cache[name], got):
                self.mismatches.append(f"{name}: result differs from its DuckDB oracle")
        con.close()


class RetailEtl(Workload):
    """The paper's daily job: extract both channels, transform, load to
    three sinks, backfill daily partitions, commit a versioned snapshot;
    plus relational registry queries over the star schema."""

    name = "retail_etl"

    def __init__(self, spark, inputs, work):
        super().__init__(spark, inputs, work)
        self.out = os.path.join(work, "out")
        self.derby = f"jdbc:derby:{os.path.join(work, 'derby_db')};create=true"
        self.rng_days = inputs["backfill"]

    def input_rows(self):
        return self.inputs["retail"]["rows"]

    def input_bytes(self):
        return self.inputs["retail"]["bytes"]

    def output_dirs(self):
        return [self.out]

    def trace_extra(self):
        sink_files = glob.glob(f"{self.out}/summary_parquet/*") + [f"{self.out}/summary.csv"]
        snap = versioned._read_manifest(f"{self.out}/versioned", versioned.current_version(f"{self.out}/versioned"))
        return {
            "sink_files": len(sink_files),
            "sink_bytes": sum(os.path.getsize(f) for f in sink_files),
            "files_committed": len(snap["files"]),
            "bytes_committed": sum(os.path.getsize(os.path.join(self.out, "versioned", f)) for f in snap["files"]),
        }

    def _raw(self):
        r = self.inputs["retail"]
        online = self.spark.read.parquet(r["online"])
        store = read_sales_csv(self.spark, r["in_store"])
        return online, store

    def run_pass(self, tracer, order_rng) -> dict[str, float]:
        spark, out = self.spark, self.out
        span = tracer.open_span("pass", self.name)
        lat: dict[str, float] = {}
        online, store = self._raw()
        typed = union_sources(to_typed(online), to_typed(store))

        n, lat["extract"] = tracer.job("sources", "extract", typed.count, parent=span["id"])
        self.results["extract"] = n

        summary_df = retail.transform_sales_from_strings(online, store)

        def transform():
            retail.validated_summary(summary_df)
            return summary_df

        summary, lat["transform"] = tracer.job("plans.retail", "transform", transform, parent=span["id"])
        if summary is not None:
            for sink, fn in (
                ("write_parquet", lambda: sinks.write_parquet(summary, f"{out}/summary_parquet")),
                ("write_csv_single_file", lambda: sinks.write_csv_single_file(summary, f"{out}/summary.csv")),
                ("write_jdbc_replace", lambda: sinks.write_jdbc_replace(summary, self.derby, "sales_summary", driver=DERBY)),
            ):
                _, lat[sink] = tracer.job("sinks", sink, fn, parent=span["id"])
        for i, day in enumerate(self.rng_days):
            _, lat[f"run_daily#{i}"] = tracer.job(
                "plans.daily", "run_daily", lambda: daily.run_daily(spark, typed, day, f"{out}/daily"), parent=span["id"]
            )
        checks = [not_null("product_id"), non_negative("total_quantity"), non_negative("total_sale_amount")]
        if summary is not None:
            _, lat["write_audit_publish"] = tracer.job(
                "versioned",
                "write_audit_publish",
                lambda: versioned.write_audit_publish(spark, summary, f"{out}/versioned", checks, mode="replace"),
                parent=span["id"],
            )
        for name in order_rng.permutation(sorted(RELATIONAL_QUERIES)):
            lat[name] = self._query_job(tracer, span["id"], name, RELATIONAL_QUERIES[name])
        tracer.close_span(span)
        return lat

    def read_back(self) -> dict:
        """Outputs of the last pass, read outside any timed region."""
        out = self.out
        jdbc = read_jdbc(self.spark, self.derby.replace(";create=true", ""), "sales_summary", driver=DERBY)
        snap = versioned.read_table(self.spark, f"{out}/versioned")
        return {"jdbc": spark_rows(jdbc), "versioned": spark_rows(snap)}

    def check(self, oracle_cache: dict) -> list[str]:
        self.mismatches = []
        r, out = self.inputs["retail"], self.out
        # retention between passes: every pass commits a new snapshot, so
        # without it the bytes on disk would grow with the number of passes
        versioned.vacuum(f"{out}/versioned", keep_last=2)
        con = duckdb.connect()
        con.sql(
            f"""CREATE VIEW raw AS
            SELECT sale_id, product_id, quantity, sale_amount, CAST(sale_date AS VARCHAR) AS sale_date, source
            FROM read_parquet('{r['online']}/*/*.parquet', hive_partitioning = true, hive_types_autocast = false)
            UNION ALL
            SELECT sale_id, product_id, quantity, sale_amount, sale_date, source
            FROM read_csv('{r['in_store']}', header = true, all_varchar = true)"""
        )
        con.sql(
            """CREATE VIEW clean AS
            SELECT product_id, quantity, sale_amount, sale_date FROM (
              SELECT TRY_CAST(sale_id AS BIGINT) AS sale_id, TRY_CAST(product_id AS BIGINT) AS product_id,
                     TRY_CAST(quantity AS BIGINT) AS quantity,
                     CASE WHEN lower(sale_amount) = 'nan' THEN NULL ELSE TRY_CAST(sale_amount AS DOUBLE) END AS sale_amount,
                     TRY_CAST(sale_date AS DATE) AS sale_date, source
              FROM raw)
            WHERE sale_id IS NOT NULL AND product_id IS NOT NULL AND quantity IS NOT NULL
              AND sale_amount IS NOT NULL AND sale_date IS NOT NULL AND source IS NOT NULL
              AND quantity > 0 AND sale_amount > 0"""
        )
        if "retail" not in oracle_cache:
            oracle_cache["retail"] = {
                "rows": con.sql("SELECT count(*) FROM raw WHERE TRY_CAST(sale_date AS DATE) IS NOT NULL").fetchone()[0],
                "summary": self.expected(duck_rows(
                    con,
                    """SELECT product_id, CAST(SUM(quantity) AS BIGINT) AS total_quantity,
                              ROUND(SUM(sale_amount), 2) AS total_sale_amount
                       FROM clean GROUP BY product_id""",
                )),
                "daily": self.expected(duck_rows(
                    con,
                    f"""SELECT product_id, CAST(SUM(quantity) AS BIGINT) AS total_quantity,
                              ROUND(SUM(sale_amount), 2) AS total_sale_amount, sale_date
                       FROM clean WHERE sale_date IN ({", ".join(f"DATE '{d}'" for d in sorted(set(self.rng_days)))})
                       GROUP BY product_id, sale_date""",
                )),
            }
        exp = oracle_cache["retail"]
        if self.results.get("extract") != exp["rows"]:
            self.mismatches.append(f"extract: {self.results.get('extract')} rows, expected {exp['rows']}")
        got = {
            "write_parquet": duck_rows(con, f"SELECT * FROM read_parquet('{out}/summary_parquet/*.parquet')"),
            "write_csv_single_file": duck_rows(
                con,
                f"""SELECT CAST(product_id AS BIGINT) AS product_id, CAST(total_quantity AS BIGINT) AS total_quantity,
                           CAST(total_sale_amount AS DOUBLE) AS total_sale_amount
                    FROM read_csv('{out}/summary.csv', header = true, all_varchar = true)""",
            ),
            "run_daily": duck_rows(
                con,
                f"""SELECT product_id, total_quantity, total_sale_amount, CAST(sale_date AS DATE) AS sale_date
                    FROM read_parquet('{out}/daily/*/*.parquet', hive_partitioning = true)""",
            ),
        }
        got.update(self.read_back())
        con.close()
        for key, rows in (
            ("write_parquet", exp["summary"]),
            ("write_csv_single_file", exp["summary"]),
            ("jdbc", exp["summary"]),
            ("versioned", exp["summary"]),
            ("run_daily", exp["daily"]),
        ):
            if not same(rows, got[key]):
                self.mismatches.append(f"{key}: output differs from DuckDB over the generated input")
        self.check_queries(RELATIONAL_QUERIES, oracle_cache)
        return self.mismatches


class CorpusIngest(Workload):
    """Corpus dedup/similarity registry queries (Python workers, self-joins,
    iterative driver loops) plus micro-batch stream ingest into the
    incremental exact-dedup state (many tiny commits)."""

    name = "corpus_ingest"

    def __init__(self, spark, inputs, work):
        super().__init__(spark, inputs, work)
        self.state = os.path.join(work, "ingest_state")
        self.durations: list[dict] = []  # durationMs of each micro-batch
        self.funnels: list[dict] = []
        self._stream_no = 0
        # the streaming query runs its jobs under its own run id as job group
        self.stream_groups: set[str] = set()

    def input_rows(self):
        return self.inputs["ingest"]["rows"] + self.inputs["sf_docs"]

    def input_bytes(self):
        return self.inputs["ingest"]["bytes"]

    def output_dirs(self):
        return [self.state]

    def trace_extra(self):
        def med(key):
            return float(np.median([d.get(key, 0) for d in self.durations])) if self.durations else 0.0

        files = [os.path.join(d, f) for d, _, fs in os.walk(self.state) for f in fs]
        n_batch = sum(f["n_batch"] for f in self.funnels)
        return {
            "trigger_ms": med("triggerExecution"),
            "add_batch_ms": med("addBatch"),
            "wal_commit_ms": med("walCommit"),
            "batches": len(self.durations),
            "accepted_frac": sum(f["n_accepted"] for f in self.funnels) / n_batch if n_batch else 0.0,
            "state_files": len(files),
            "state_bytes": sum(os.path.getsize(f) for f in files),
        }

    def _stream(self):
        spark = self.spark
        shutil.rmtree(self.state, ignore_errors=True)
        self._stream_no += 1
        ckpt = os.path.join(self.work, "stream_ckpt", str(self._stream_no))
        self.funnels = []
        src = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.inputs["ingest"]["dir"])
        )
        q = stream_ingest_exact(
            src,
            self.state,
            f"bench_ingest_{self._stream_no}",
            ckpt,
            on_stats=lambda batch_id, stats: self.funnels.append(dict(stats, batch_id=batch_id)),
        )
        self.stream_groups.add(str(q.runId))
        try:
            q.awaitTermination()
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.durations = [dict(p.durationMs) for p in q.recentProgress]
        shutil.rmtree(ckpt, ignore_errors=True)
        return len(self.funnels)

    def run_pass(self, tracer, order_rng) -> dict[str, float]:
        span = tracer.open_span("pass", self.name)
        lat: dict[str, float] = {}
        jobs = sorted(CORPUS_QUERIES) + ["stream_ingest_exact"]
        for name in order_rng.permutation(jobs):
            if name == "stream_ingest_exact":
                n, lat[name] = tracer.job(
                    "streaming.ingest", name, self._stream, parent=span["id"], extra_groups=self.stream_groups
                )
                if n:
                    # each micro-batch is one job; the query's start and
                    # stop stay in the pass time only
                    del lat[name]
                    for i, d in enumerate(self.durations):
                        lat[f"micro_batch#{i}"] = d["triggerExecution"] / 1e3
            else:
                lat[name] = self._query_job(tracer, span["id"], name, CORPUS_QUERIES[name])
        tracer.close_span(span)
        return lat

    def check(self, oracle_cache: dict) -> list[str]:
        self.mismatches = []
        expected = [
            {"n_batch": a, "n_within_dup": b, "n_hist_dup": c, "n_accepted": d}
            for a, b, c, d in self.inputs["ingest"]["funnels"]
        ]
        got = [{k: f[k] for k in ("n_batch", "n_within_dup", "n_hist_dup", "n_accepted")} for f in self.funnels]
        if self.inputs.get("expect_wrong"):
            expected[0]["n_accepted"] += 1
        if got != expected:
            self.mismatches.append(f"stream_ingest_exact: funnel {got} != generated {expected}")
        self.check_queries(CORPUS_QUERIES, oracle_cache)
        return self.mismatches


WORKLOADS = {w.name: w for w in (RetailEtl, CorpusIngest)}

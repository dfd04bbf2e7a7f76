"""The retail pass runs each piece of work once.

- The transform→load boundary is materialized (plans/retail.py):
  validation and the sinks read the checkpointed summary, never the raw
  inputs, leave no persisted blocks, and the checkpoint files are
  reclaimed once the summary is dropped.
- ``load_table`` infers a parquet schema once per unchanged file set and
  schema-conversion confs (sources/readers.py): a repeat read launches no
  Spark job, a rewrite or a conf flip re-infers.

Job and stage counters come from the application status store, read
after the listener bus drained.
"""

import gc
import os
import time

import pytest

from etl_pipeline_for_retail_sales_data_spark import sinks
from etl_pipeline_for_retail_sales_data_spark.cachectl import ensure_checkpoint_dir
from etl_pipeline_for_retail_sales_data_spark.operators.cleaning import to_typed
from etl_pipeline_for_retail_sales_data_spark.plans.retail import (
    transform_sales,
    transform_sales_from_strings,
    validated_summary,
)
from etl_pipeline_for_retail_sales_data_spark.schemas import SALES_STRING_SCHEMA
from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table, read_parquet
from tests.test_retail_golden import GOLDEN, IN_STORE_ROWS, ONLINE_ROWS


def _run_in_group(spark, group, fn):
    """Run ``fn()`` under job group ``group``; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _input_rows(spark, job_ids) -> int:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    total = 0
    for jid in job_ids:
        for sid in sc.statusTracker().getJobInfo(jid).stageIds:
            attempts = store.stageData(sid, False, None, False, None)
            total += sum(attempts.apply(i).inputRecords() for i in range(attempts.size()))
    return total


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture
def raw_files(spark, tmp_path):
    """The golden two-channel input as all-string files (FIXTURES F5):
    the online channel parquet, the in-store channel CSV."""

    def stringify(rows):
        return [tuple("nan" if v is None else str(v) for v in r) for r in rows]

    online, store = str(tmp_path / "online"), str(tmp_path / "in_store")
    spark.createDataFrame(stringify(ONLINE_ROWS), SALES_STRING_SCHEMA).write.parquet(online)
    spark.createDataFrame(stringify(IN_STORE_ROWS), SALES_STRING_SCHEMA).write.option("header", True).csv(store)

    def read():
        return (
            spark.read.parquet(online),
            spark.read.csv(store, header=True, schema=SALES_STRING_SCHEMA),
        )

    return read


def _golden(rows):
    return [(r.product_id, r.total_quantity, float(r.total_sale_amount)) for r in rows]


def test_load_stage_reads_no_raw_rows(spark, raw_files, tmp_path):
    summary = transform_sales_from_strings(*raw_files())
    out = str(tmp_path / "out")

    def load():
        validated_summary(summary)
        sinks.write_parquet(summary, f"{out}/summary_parquet")
        sinks.write_csv_single_file(summary, f"{out}/summary.csv")

    _, jobs = _run_in_group(spark, "load-materialized", load)
    assert jobs, "the load stage ran no job"
    assert _input_rows(spark, jobs) == 0
    assert _persisted(spark) == 0
    assert _golden(spark.read.parquet(f"{out}/summary_parquet").orderBy("product_id").collect()) == GOLDEN
    lines = open(f"{out}/summary.csv").read().strip().splitlines()
    assert lines[1:] == [f"{p},{q},{a}" for p, q, a in GOLDEN]

    # control: the lazy lineage does rescan all 30 raw rows per action
    lazy = transform_sales(*[to_typed(df) for df in raw_files()])
    _, jobs = _run_in_group(spark, "load-lazy", lambda: sinks.write_parquet(lazy, f"{out}/lazy"))
    assert _input_rows(spark, jobs) == len(ONLINE_ROWS) + len(IN_STORE_ROWS)


def test_checkpoint_files_reclaimed_across_passes(spark, raw_files):
    ckpt_dir = ensure_checkpoint_dir(spark).replace("file:", "")
    before = set(os.listdir(ckpt_dir))
    for _ in range(3):
        summary = transform_sales_from_strings(*raw_files())
        assert _golden(summary.collect()) == GOLDEN
    del summary
    for _ in range(60):
        gc.collect()
        spark._jvm.System.gc()
        if not set(os.listdir(ckpt_dir)) - before:
            break
        time.sleep(0.5)
    assert not set(os.listdir(ckpt_dir)) - before, "checkpoint files of dropped summaries remain"
    assert _persisted(spark) == 0


def test_second_load_table_runs_no_job(spark, tmp_path):
    sf = str(tmp_path)
    spark.range(50).selectExpr("id", "cast(id * 2 as string) AS s").write.parquet(f"{sf}/t.parquet")
    first, jobs = _run_in_group(spark, "infer", lambda: load_table(spark, sf, "t"))
    assert jobs, "schema inference is expected to run a footer job"
    again, jobs = _run_in_group(spark, "cached", lambda: load_table(spark, sf, "t"))
    assert jobs == []
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_table_reinfers_schema(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    spark.range(5).selectExpr("id", "cast(id AS string) AS s").write.parquet(path)
    assert load_table(spark, sf, "t").columns == ["id", "s"]
    spark.range(7).selectExpr("id * 10 AS k", "cast(id AS double) AS v").write.mode("overwrite").parquet(path)
    df = load_table(spark, sf, "t")
    assert df.columns == ["k", "v"] and dict(df.dtypes) == {"k": "bigint", "v": "double"}
    assert sorted(r.k for r in df.collect()) == [i * 10 for i in range(7)]


def test_schema_conf_flip_reinfers(spark, tmp_path):
    """binaryAsString types an unannotated BINARY column (no Spark schema
    in the footer, hence written with pyarrow)."""
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    sf = str(tmp_path)
    pq.write_table(pa.table({"b": pa.array([b"0", b"1", b"2"], type=pa.binary())}), f"{sf}/t.parquet")
    conf = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert dict(load_table(spark, sf, "t").dtypes)["b"] == "binary"
        spark.conf.set(conf, "true")
        df = load_table(spark, sf, "t")
        assert dict(df.dtypes)["b"] == "string"
        assert sorted(r.b for r in df.collect()) == ["0", "1", "2"]
    finally:
        spark.conf.set(conf, prev)


def test_nanos_as_long_flip_reinfers(spark, tmp_path):
    """A TIMESTAMP(NANOS) column reads as a raw long only under
    nanosAsLong; with the conf off, a fresh inference rejects the type.
    The cached long schema must not outlive the conf it was inferred
    under."""
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_000_000_123], type=pa.timestamp("ns"))}), path)
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        assert dict(read_parquet(spark, path).dtypes) == {"ts": "bigint"}
        spark.conf.set(conf, "false")
        with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
            read_parquet(spark, path)
        spark.conf.set(conf, "true")
        assert read_parquet(spark, path).first().ts == 1_000_000_123
    finally:
        spark.conf.set(conf, prev)

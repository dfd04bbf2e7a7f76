"""Unit coverage for the cache-lifetime primitives (cachectl.py) — the
machinery the registry-wide hygiene sweep (test_cache_hygiene.py) relies
on. These pin the non-obvious Spark facts directly:

- ``Dataset.unpersist()`` does NOT release localCheckpoint blocks (the
  round-7 discovery that motivated local_ckpt/release_ckpt);
- local_ckpt records the checkpoint's persistent-RDD ids (eager AND
  lazy — persist marks the RDD at creation) and release_ckpt frees them;
- finalize_iterative leaves zero persisted blocks and a re-readable
  frame;
- scoped_cache releases on exception.
"""

import pytest
from pyspark.sql import functions as F

from etl_pipeline_for_retail_sales_data_spark.cachectl import (
    shared_frame as finalize_iterative,
    local_ckpt,
    release_ckpt,
    scoped_cache,
)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(autouse=True)
def _clean_slate(spark):
    spark.catalog.clearCache()
    yield


def test_plain_unpersist_does_not_release_checkpoint_blocks(spark):
    base = _persisted(spark)
    df = spark.range(100).withColumn("x", F.col("id") * 2).localCheckpoint(eager=True)
    assert _persisted(spark) > base
    df.unpersist()  # the silent no-op this module exists to fix
    assert _persisted(spark) > base


def test_local_ckpt_release_eager_and_lazy(spark):
    base = _persisted(spark)
    eager = local_ckpt(spark.range(100).withColumn("x", F.col("id") * 2), eager=True)
    assert eager._ckpt_rdd_ids and _persisted(spark) > base
    release_ckpt(eager)
    assert _persisted(spark) == base
    # lazy: persist marks the RDD immediately, so the ids are captured
    # even before materialization
    lazy = local_ckpt(spark.range(50).withColumn("y", F.col("id") + 1), eager=False)
    assert lazy._ckpt_rdd_ids
    assert lazy.count() == 50  # materialize, THEN release
    release_ckpt(lazy)
    assert _persisted(spark) == base
    release_ckpt(lazy)  # idempotent


def test_finalize_iterative_leaves_no_blocks_and_rereads(spark):
    base = _persisted(spark)
    out = finalize_iterative(
        spark.range(10).groupBy((F.col("id") % 3).alias("g")).agg(F.sum("id").alias("s"))
    )
    assert _persisted(spark) == base  # reliable checkpoint = disk, not storage pool
    assert out.count() == 3 and out.count() == 3  # re-readable on demand


def test_scoped_cache_releases_on_exception(spark):
    base = _persisted(spark)
    df = spark.range(100).withColumn("x", F.col("id") * 3)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_cache(df):
            assert df.count() == 100
            assert _persisted(spark) > base
            raise RuntimeError("boom")
    assert _persisted(spark) == base

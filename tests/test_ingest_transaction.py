"""The shared ingest transaction (plans/incremental_corpus._ingest), one
tiny batch per leg, in the fast lane:

- a redelivered epoch returns None and launches no Spark job — the
  epoch guard runs before the batch is read;
- no persisted RDD is left once a leg returns (every scoped cache is
  released, the sketch swap persists nothing).

Job ids come from the application status tracker by job group, read
after the listener bus drained (as in tests/test_run_once.py).
"""

import pytest

from etl_pipeline_for_retail_sales_data_spark.plans import incremental_corpus as IC
from etl_pipeline_for_retail_sales_data_spark.queries_registry import (
    _lsh_tables,
    _sem_centroids,
)
from tests.test_run_once import _persisted, _run_in_group

DOC_LEGS = {
    "exact": IC.ingest_batch,
    "neardup": IC.ingest_batch_neardup,
    "bloom": IC.ingest_batch_bloom,
    "sketch": IC.ingest_batch_sketch,
}
VEC_LEGS = {
    "embdup": lambda spark, b, sd, **kw: IC.ingest_batch_embdup(spark, b, sd, _lsh_tables(), **kw),
    "semantic": lambda spark, b, sd, **kw: IC.ingest_batch_semantic(
        spark, b, sd, _sem_centroids(), **kw
    ),
}


def _ingest(spark, leg, state_dir, epoch_id):
    if leg in DOC_LEGS:
        batch = spark.createDataFrame(
            [
                (1, "one two three four five six", "a"),
                (2, "one two three four five six", "b"),
                (3, "seven", "a"),
            ],
            "doc_id long, text string, source string",
        )
        return DOC_LEGS[leg](spark, batch, state_dir, epoch_id=epoch_id)
    batch = spark.createDataFrame(
        [(1, [float(j) for j in range(64)]), (2, None)],
        "vec_id long, embedding array<double>",
    )
    return VEC_LEGS[leg](spark, batch, state_dir, epoch_id=epoch_id)


@pytest.mark.parametrize("leg", [*DOC_LEGS, *VEC_LEGS])
def test_redelivered_epoch_runs_no_job_and_nothing_stays_persisted(spark, tmp_path, leg):
    spark.catalog.clearCache()
    state_dir = str(tmp_path / "state")
    first = _ingest(spark, leg, state_dir, "e1")
    assert first is not None and first["n_batch"] in (2, 3)
    assert _persisted(spark) == 0
    assert IC.epoch_committed(spark, state_dir, "e1")

    again, jobs = _run_in_group(
        spark, f"redeliver-{leg}", lambda: _ingest(spark, leg, state_dir, "e1")
    )
    assert again is None
    assert jobs == []
    assert _persisted(spark) == 0

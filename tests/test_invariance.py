"""Batch-/partition-invariance property tests (SURVEY.md §5.2(4)): the same
corpus must produce identical spans regardless of Arrow batch size or input
partitioning — guards against padding/batching leaking into results (the
reference's per-image independence, /root/reference/engine.py:49-55)."""

import pytest
from pyspark.sql import functions as F

from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.pipeline import extract

from .util import assert_span_equal, spans_key


@pytest.fixture(scope="module")
def small(corpus):
    # a slice is enough for the property — keep the matrix cheap
    return corpus


def _run(spark, corpus, batch_size, partitions):
    ids = [d["doc_id"] for d in corpus["docs"][:30]]  # fixed, deterministic subset
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size))
    try:
        docs = (
            spark.read.parquet(corpus["docs_path"])
            .where(F.col("doc_id").isin(ids))
            .repartition(partitions)
        )
        media = spark.read.parquet(corpus["media_path"])
        return spans_key(
            extract(docs, media, ExtractConfig()).collect()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_batch_and_partition_invariance(spark, small):
    base = _run(spark, small, batch_size=32, partitions=4)
    assert len(base) == 30
    for bs, parts in [(1, 4), (7, 1), (64, 8)]:
        assert_span_equal(_run(spark, small, bs, parts), base)

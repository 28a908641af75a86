"""Skew-tier construction and treatment: media-heavy documents concentrate
into bucket partitions {0,1} by fixture design (FIXTURES.md §1), and the
engine's cost model is immune to it (OCR work is keyed by media_ref, not
doc_id)."""

from pyspark.sql import functions as F

from ai_invoice_ocr_engine_spark.fixtures import SKEW_BUCKETS
from ai_invoice_ocr_engine_spark.pipeline import with_bucket


def test_media_spans_concentrate_in_skew_buckets(spark, corpus):
    docs = with_bucket(spark.read.parquet(corpus["docs_path"]), 32)
    per_bucket = (
        docs.select("bucket", F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .groupBy("bucket")
        .count()
        .collect()
    )
    counts = {r["bucket"]: r["count"] for r in per_bucket}
    skew_load = sum(counts.get(b, 0) for b in SKEW_BUCKETS)
    other = [v for k, v in counts.items() if k not in SKEW_BUCKETS]
    avg_other = sum(other) / max(len(other), 1)
    # the two skew buckets carry far more media work than an average bucket
    assert skew_load / 2 > 3 * avg_other


def test_skew_doc_ids_land_in_declared_buckets(corpus):
    from ai_invoice_ocr_engine_spark.xxh import spark_bucket

    skew_docs = [d for i, d in enumerate(corpus["docs"]) if i % 20 == 7 and i > 6]
    assert skew_docs
    for d in skew_docs:
        assert spark_bucket(d["doc_id"], 32) in SKEW_BUCKETS

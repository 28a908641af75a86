"""ocr_heavy: a warm, fully materialized ``pipeline.extract`` over a corpus of
the default ``fixtures.gen_corpus`` shape (n_media = 0.6·n_docs, ~3× frame
reuse, 640 px), closed by the checksum action; nothing is written. The
detection and recognition kernels and the Python UDF boundary do most of
the work; the merge and write layers do little.

One operation is one extract pass; items are documents.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from ai_invoice_ocr_engine_spark.pipeline import build_media_blob, extract

from . import corpus, harness as H
from .storage import StorageCycle

SIZES = {"full": {"docs": 600, "oracle_docs": 16}, "tiny": {"docs": 40, "oracle_docs": 6}}


class OcrHeavy(H.Workload):
    # the first passes in a fresh JVM still speed up; two more are untimed
    warm_ops = 2

    def __init__(self, run: H.Run):
        super().__init__(run)
        self.size = SIZES[run.size]
        self.docs_path, self.media_path = corpus.ensure("ocr_heavy", run.seed, self.size["docs"])
        self.blob_cache = os.path.join(os.path.dirname(self.media_path), ".blob_cache")
        self.checksum = None
        self.distinct = corpus.distinct_frames(self.docs_path, self.media_path)

    def sizes(self) -> dict:
        return self.size

    def extract(self, spark, docs=None):
        docs = docs if docs is not None else spark.read.parquet(self.docs_path)
        media = spark.read.parquet(self.media_path)
        return extract(docs, media, media_side_path=self.media_path)

    def checked_pass(self, spark) -> bool:
        # the run's first pass sets the checksum every later pass reproduces
        got = corpus.checksum_of(self.extract(spark))
        self.checksum = self.checksum or got
        return got == self.checksum

    def prepare(self, spark) -> dict:
        shutil.rmtree(self.blob_cache, ignore_errors=True)
        t0 = time.perf_counter()
        build_media_blob(self.media_path)
        return {"blob.build_s": time.perf_counter() - t0}

    def warm_up(self, spark) -> None:
        self.run.tally.op("warm-up extract", lambda: self.checked_pass(spark))

    def check(self, spark) -> None:
        sample = corpus.OracleSample(
            self.docs_path, self.media_path, self.run.seed, self.size["oracle_docs"]
        )
        docs = spark.read.parquet(self.docs_path).where(F.col("doc_id").isin(sample.doc_ids))
        self.run.tally.op("oracle sample", lambda: sample.matches(
            self.extract(spark, docs).select("doc_id", "spans_out").collect()
        ))

    def op(self, spark) -> dict:
        self.run.tally.op("extract", lambda: self.checked_pass(spark))
        return {}

    def record_ops(self, ops: list[dict]) -> None:
        self.run.detail["docs_per_s"] = self.size["docs"] / self.op_time(ops)

    def frames(self) -> list[bytes]:
        return self.distinct

    def trace_extra(self, spark) -> dict:
        """The storage cycle (perfbench/storage.py): a warm-up cycle, then
        the traced one."""
        self.storage = StorageCycle(self.run)
        self.storage.cycle(spark)
        return self.storage.cycle(spark)

    def layers(self, traced: list[dict], kernels: dict, extra: dict) -> dict:
        ocr_task_s = H.median(t["op"]["ocr.task_s"] for t in traced)
        kernels_cpu_s = kernels["kernels.ms_per_frame"] * len(self.distinct) / 1e3
        return {
            **self.storage.layers(extra["ingest"], extra["upsert"]),
            "blob.build_s": self.run.detail["setup"]["blob.build_s"],
            "blob.bytes": H.tree_bytes(self.blob_cache),
            "ocr.frames": len(self.distinct),
            "kernels.cpu_s": kernels_cpu_s,
            # Arrow transfer, Python worker and blob time around the kernels
            "ocr.boundary_s": ocr_task_s - kernels_cpu_s,
        }


def run(run: H.Run) -> None:
    H.execute(run, OcrHeavy(run))

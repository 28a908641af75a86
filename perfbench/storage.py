"""The storage cycle traced in ocr_heavy's traced runs:
``pipeline.run_extract`` into a fresh 32-bucket table, then
``pipeline.upsert_extract`` re-extracting ~10% of the documents, spread
over every bucket. Its corpus reuses few frames across many documents
(``gen_corpus(n_media=64)``), so OCR is small and the Catalyst merge, the
bucketed write, lineage and the snapshot commit dominate; the upsert goes
through the same storage layer as a read-modify-write.

Checked on every use: ``verify_lineage`` after the ingest and after the
upsert, the table checksum (from the lineage rows) against the first
ingest's, and the oracle sample against the ingested table.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pyarrow.parquet as pq

from ai_invoice_ocr_engine_spark.pipeline import run_extract, upsert_extract, verify_lineage

from . import corpus, harness as H

SIZES = {
    "full": {"docs": 1000, "media": 64, "oracle_docs": 16},
    "tiny": {"docs": 60, "media": 12, "oracle_docs": 6},
}
BUCKETS = 32
#: ~10% of the documents, independent of the bucket hash (xxhash64), so
#: every bucket is touched
UPSERT_WHERE = "pmod(hash(doc_id), 10) = 0"


def lineage_state(out_dir: str) -> tuple[int, int]:
    """(documents, bit_xor of the checksums) over the lineage rows; the
    xor equals the extract checksum of the whole table."""
    n, ck = 0, 0
    for f in glob.glob(os.path.join(out_dir, "lineage", "*", "*.parquet")):
        t = pq.read_table(f, columns=["doc_count", "checksum"])
        n += sum(t.column("doc_count").to_pylist())
        for c in t.column("checksum").to_pylist():
            ck ^= c
    return n, ck


class StorageCycle:
    def __init__(self, run: H.Run):
        self.run = run
        self.size = SIZES[run.size]
        self.docs_path, self.media_path = corpus.ensure(
            "storage", run.seed, self.size["docs"], self.size["media"]
        )
        self.sample = corpus.OracleSample(
            self.docs_path, self.media_path, run.seed, self.size["oracle_docs"]
        )
        self.tables = 0
        self.table = None  # the last table written
        self.state = None  # lineage state every table must have
        self.upserted = None  # docs every upsert re-extracts

    def fresh_table(self) -> str:
        """A new, empty table directory; the previous table is deleted."""
        self.tables += 1
        shutil.rmtree(os.path.join(H.WORK, "tables"), ignore_errors=True)
        self.table = H.fresh_dir("tables", f"t{self.tables}")
        return self.table

    def ingest(self, spark, out: str) -> bool:
        r = run_extract(spark, self.docs_path, self.media_path, out, num_buckets=BUCKETS)
        # the first ingest sets the lineage state (doc count and table
        # checksum) every later ingest and upsert must keep: an upsert
        # re-extracts docs whose spans do not change
        self.state = self.state or lineage_state(out)
        return r["docs"] == self.size["docs"] and lineage_state(out) == self.state

    def upsert(self, spark, out: str) -> bool:
        u = upsert_extract(spark, out, self.docs_path, self.media_path, where=UPSERT_WHERE)
        self.upserted = self.upserted or u["docs"]
        return 0 < u["docs"] == self.upserted and lineage_state(out) == self.state

    def oracle_rows(self, out: str) -> list[dict]:
        return pq.read_table(
            os.path.join(out, "spans"), filters=[("doc_id", "in", self.sample.doc_ids)],
            columns=["doc_id", "spans_out"],
        ).to_pylist()

    def cycle(self, spark) -> dict:
        """One checked ingest + upsert into a fresh table; returns the
        epoch-second window of each (the checks fall outside them)."""
        out, tally = self.fresh_table(), self.run.tally
        t0 = time.time()
        tally.op("storage ingest", lambda: self.ingest(spark, out))
        t1 = time.time()
        tally.op("verify_lineage after ingest", lambda: verify_lineage(spark, out)["ok"])
        tally.op("storage oracle sample", lambda: self.sample.matches(self.oracle_rows(out)))
        t2 = time.time()
        tally.op("storage upsert", lambda: self.upsert(spark, out))
        t3 = time.time()
        tally.op("verify_lineage after upsert", lambda: verify_lineage(spark, out)["ok"])
        return {"ingest": (t0, t1), "upsert": (t2, t3)}

    def layers(self, ing: dict, ups: dict) -> dict:
        """Layer metrics of a traced cycle from its ingest and upsert
        windows, plus what the table holds on disk."""
        buckets = sorted(
            H.tree_bytes(d) for d in glob.glob(os.path.join(self.table, "spans", "bucket=*"))
        )
        upserted_share = self.upserted / self.size["docs"]
        return {
            **{f"ingest.{k}": v for k, v in ing.items()},
            **{f"upsert.{k}": v for k, v in ups.items()},
            "ingest.docs_per_s": self.size["docs"] / ing["wall_s"],
            "upsert.docs": self.upserted,
            "write.files": len(glob.glob(os.path.join(self.table, "spans", "*", "*.parquet"))),
            "write.bucket_bytes_skew": buckets[-1] / buckets[len(buckets) // 2],
            "snapshot.manifest_bytes": H.tree_bytes(os.path.join(self.table, "_snapshots")),
            # bytes the upsert writes per byte of the re-extracted docs' rows
            "upsert.rewrite_ratio": ups["write.bytes"] / (upserted_share * ing["write.bytes"]),
            # bytes under the table after ingest + upsert per input byte
            "write_amp": H.tree_bytes(self.table) / os.path.getsize(self.docs_path),
        }

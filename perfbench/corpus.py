"""Seeded OCR corpora, the extract checksum and the oracle sample check,
shared by ocr_heavy and its storage cycle."""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq

from ai_invoice_ocr_engine_spark.fixtures import ensure_corpus, gen_corpus, write_corpus
from ai_invoice_ocr_engine_spark.oracle import run_oracle

from .harness import cached_input

MAX_SIDE = 640


def ensure(workload: str, seed: int, n_docs: int, n_media: int | None = None) -> tuple[str, str]:
    """(documents, media) parquet paths of a ``fixtures.gen_corpus`` corpus,
    generated once per (workload, seed, size); ``fixtures.ensure_corpus``
    makes the default shape, which has no ``n_media``."""
    def build(out: str) -> None:
        if n_media is None:
            ensure_corpus(out, seed=seed, n_docs=n_docs, max_media_side=MAX_SIDE)
        else:
            write_corpus(out, *gen_corpus(
                seed=seed, n_docs=n_docs, n_media=n_media, max_media_side=MAX_SIDE
            ))

    d = cached_input(workload, f"s{seed}-d{n_docs}-m{n_media}", build)
    return os.path.join(d, "documents.parquet"), os.path.join(d, "media.parquet")


def distinct_frames(docs_path: str, media_path: str) -> list[bytes]:
    """Image bytes of every media row some document references: the frames
    the OCR stage runs on, once each."""
    refs = {
        s["media_ref"]
        for spans in pq.read_table(docs_path, columns=["spans"]).column("spans").to_pylist()
        for s in spans or ()
        if s["kind"] == "media"
    }
    media = pq.read_table(media_path, columns=["media_ref", "image"]).to_pylist()
    return [m["image"] for m in media if m["media_ref"] in refs]


def checksum_of(df):
    """(rows, bit_xor of xxhash64(doc_id, to_json(spans_out))) of an
    extract result — one action that materializes every output span. The
    aggregate of ``bench.run_extract_bench``, which returns only the time
    and row count, so the checksum is computed here."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("doc_id", F.to_json("spans_out"))).alias("ck"),
    ).collect()[0]
    return row["n"], row["ck"]


def spans_by_doc(rows) -> dict:
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans_out"]]
        for r in rows
    }


class OracleSample:
    """A seeded sample of documents with their ``oracle.run_oracle`` span
    sequences (the single-process reference the engine must equal)."""

    def __init__(self, docs_path: str, media_path: str, seed: int, k: int):
        docs = pq.read_table(docs_path).to_pylist()
        picked = random.Random(seed).sample(docs, min(k, len(docs)))
        refs = {s["media_ref"] for d in picked for s in d["spans"] or ()}
        media = [
            m for m in pq.read_table(media_path, columns=["media_ref", "image"]).to_pylist()
            if m["media_ref"] in refs
        ]
        self.doc_ids = [d["doc_id"] for d in picked]
        self.golden = spans_by_doc(run_oracle(picked, media))

    def matches(self, rows) -> bool:
        return spans_by_doc(rows) == self.golden

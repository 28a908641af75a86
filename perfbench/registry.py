"""registry: the headline queries ``bench.BENCH_QUERIES`` of
``queries.REGISTRY`` over seeded tables (``registry_tables``), each fully
materialized with ``df.write.format("noop")`` — a ``count()`` would let
Catalyst prune the query's output expressions. The only workload that runs
``queries`` and ``functions.dedup`` / ``functions.similarity``; no OCR, no
write.

One operation is one sweep over the queries. The context line adds each
query's median wall time, their sum (``registry_s``) and their median
(``query_p50_s``).
"""

from __future__ import annotations

import importlib.util
import os
import time

import duckdb

from ai_invoice_ocr_engine_spark.fixtures import gen_media
from ai_invoice_ocr_engine_spark.queries import REGISTRY
from bench import BENCH_QUERIES as QUERIES

from . import harness as H
from . import registry_tables
from .corpus import MAX_SIDE


def _check_queries():
    """``tools/check_queries.py``, the repository's query check, whose
    comparison (``canon``) and table list the oracle check reuses."""
    path = os.path.join(H.REPO, "tools", "check_queries.py")
    spec = importlib.util.spec_from_file_location("check_queries", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


SIZES = {
    "full": {"scale": 0.03, "probe_frames": 64},
    "tiny": {"scale": 0.002, "probe_frames": 4},
}


def materialize(df) -> bool:
    """Run the whole query and discard its rows."""
    df.write.format("noop").mode("overwrite").save()
    return True


class Registry(H.Workload):
    # the oracle check has run every query once, so no warm-up sweep
    min_ops = 3
    traced_ops = 1

    def __init__(self, run: H.Run):
        super().__init__(run)
        self.size = SIZES[run.size]
        scale = self.size["scale"]
        self.sf_dir = H.cached_input(
            "registry", f"s{run.seed}-sf{scale}",
            lambda out: registry_tables.write(run.seed, scale, out),
        )

    def sizes(self) -> dict:
        return {"scale": self.size["scale"], "queries": len(QUERIES)}

    def query(self, spark, name: str) -> None:
        fn, _sql = REGISTRY[name]
        self.run.tally.op(name, lambda: materialize(fn(spark, self.sf_dir)))

    def warm_up(self, spark) -> None:
        self.query(spark, QUERIES[0])

    def check(self, spark) -> None:
        """Every query's rows against its DuckDB oracle SQL over the same
        tables, compared as tools/check_queries.py does (order-insensitive,
        floats at six decimals). Also each query's first run in the
        session."""
        cq = _check_queries()
        con = duckdb.connect()
        for table in cq.TABLES:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{self.sf_dir}/{table}.parquet'")

        def matches(name: str) -> bool:
            fn, sql = REGISTRY[name]
            df = fn(spark, self.sf_dir)
            mine = cq.canon([tuple(r) for r in df.collect()], df.columns)
            tbl = con.sql(sql).arrow()
            cols = list(tbl.column_names)
            return mine == cq.canon([tuple(d[c] for c in cols) for d in tbl.to_pylist()], cols)

        for name in QUERIES:
            self.run.tally.op(f"oracle {name}", lambda: matches(name))
        con.close()

    def op(self, spark) -> dict:
        windows = {}
        for name in QUERIES:
            t0 = time.time()
            self.query(spark, name)
            windows[name] = (t0, time.time())
        return windows

    @staticmethod
    def per_query(ops: list[dict]) -> dict:
        return {n: H.median(H.wall(o[n]) for o in ops) for n in QUERIES}

    def op_time(self, ops: list[dict]) -> float:
        """registry_s: the sum over the queries of each one's median time,
        which a slow moment in one query of one sweep does not move."""
        return sum(self.per_query(ops).values())

    def record_ops(self, ops: list[dict]) -> None:
        per_query = self.per_query(ops)
        self.run.detail.update(
            query_s=per_query,
            registry_s=sum(per_query.values()),
            query_p50_s=H.median(per_query.values()),
        )

    def frames(self) -> list[bytes]:
        # no frames of its own: the kernels are probed on frames of the OCR
        # workloads' shape, generated from the seed
        return [m["image"] for m in gen_media(self.run.seed, self.size["probe_frames"], MAX_SIDE)]

    def layers(self, traced: list[dict], kernels: dict, extra: dict) -> dict:
        out = {}
        for name in QUERIES:
            q = H.median_by_key([t[name] for t in traced])
            out[f"query.{name}_s"] = q["wall_s"]
            out[f"query.{name}.shuffle_bytes"] = q["merge.shuffle_bytes"]
        return out


def run(run: H.Run) -> None:
    H.execute(run, Registry(run))

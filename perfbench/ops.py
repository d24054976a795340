"""The ``ops_udf`` workload: a basket of operator queries that run
through the Arrow/pandas-UDF Python worker path.

The queries read a frozen copy of two sf0.1 tables (``data/sf0.1``), so
the seed does not apply to this workload; it is echoed all the same.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import __spark_entry__ as entry

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
TABLES = ("documents", "embeddings")
# query -> its pinned row count on the frozen tables
BASKET = {
    "minhash_near_dup": 1028,
    "embedding_near_dup": 1999,
    "simhash_near_dup": 1064,
    "phash_near_dup": 2500,
}


class OpsUdf:
    name = "ops_udf"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.queries = entry.queries()

    def setup(self) -> float:
        """Read the tables' parquet footers; seconds."""
        t0 = time.monotonic()
        for t in TABLES:
            self.spark.read.parquet(os.path.join(DATA, f"{t}.parquet")).count()
        return time.monotonic() - t0

    def prepare_check(self) -> None:
        pass

    def run(self, tracer=None) -> dict:
        """Collect every query of the basket, in order."""
        steps, ok = [], True
        t0 = time.monotonic()
        for q, want in BASKET.items():
            t = time.monotonic()
            with tracer.span(f"ops.{q}") if tracer else nullcontext():
                rows = self.queries[q](self.spark, DATA).collect()
            steps.append(time.monotonic() - t)
            ok = ok and len(rows) == want
        return {"wall_s": time.monotonic() - t0, "steps_s": steps, "ok": ok}

    def layers(self, run: dict, tracer) -> dict:
        out = {f"ops.{q}_s": tracer.total(f"ops.{q}") for q in BASKET}
        out["unattributed_s"] = run["wall_s"] - sum(out.values())
        return out

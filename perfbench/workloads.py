"""The benchmark's workloads, as lists of steps one client runs in turn.

A step is one call into the package. When its ``run`` returns a
DataFrame the runner executes it with the noop sink; any other result
means the call was eager. Its optional ``check`` inspects the result after the
timed part of the step and returns a failure message or None.

A workload yields one list of steps per pass. The query workloads run
the same registry entries in every pass, in an order the seed fixes.
``ann_lifecycle`` runs one index lifecycle per pass on a fresh copy of
the embeddings.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_engineering_zoomcamp_projects_spark.catalog import load_table
from data_engineering_zoomcamp_projects_spark.functions.vector import as_double_array, norm
from data_engineering_zoomcamp_projects_spark.llm import similarity as sim
from data_engineering_zoomcamp_projects_spark.registry import all_oracles, all_queries

PKG = "data_engineering_zoomcamp_projects_spark."

#: Relational, warehouse and streaming entries over the lineitem star:
#: aggregation, multi-way joins, semi/anti joins, a window, the funnel,
#: the dbt-slot mart and a session-window stream, all execute-bound.
STAR_OLAP = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q21_waiting_suppliers",
    "window_running_sum",
    "events_funnel_stages",
    "mart_daily_revenue",
    "stream_session_30m",
)
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


@dataclass
class Step:
    name: str
    module: str
    run: Callable[[], object]
    check: Callable[[object], str | None] | None = None


def cache_tag(sf_dir: str) -> str:
    """The key ``catalog.model_cache_path`` files a directory's entries under."""
    return hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:16]


def drop_cache_entries(root: str, sf_dir: str) -> None:
    """Remove every model-cache entry (k-means JSON, ANN index) keyed to ``sf_dir``."""
    cache = os.path.join(root, ".localdata", "model_cache")
    if not os.path.isdir(cache):
        return
    tag = cache_tag(sf_dir)
    for entry in os.listdir(cache):
        if tag in entry:
            path = os.path.join(cache, entry)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)


class QueryWorkload:
    """Registry entries run as ``queries()[name](spark, sf_dir)`` then a noop write."""

    inline_checks = False

    def __init__(self, names, spark, data_dir: str, seed: int, oracle):
        queries, oracles = all_queries(), all_oracles()
        order = list(names)
        random.Random(seed).shuffle(order)
        self._steps = [
            Step(
                n,
                queries[n].__module__.removeprefix(PKG),
                lambda fn=queries[n]: fn(spark, data_dir),
                lambda df, sql=oracles[n]: oracle.mismatch(df, sql),
            )
            for n in order
        ]

    def steps(self, _pass: int) -> list[Step]:
        return self._steps

    def end_pass(self, _pass: int) -> None:
        pass

    def layer_stats(self) -> dict:
        return {}


class AnnLifecycle:
    """One index lifecycle per pass: build, serve, append, delete, serve
    (with the deletes still pending as tombstones), compact, serve.

    Each pass starts from its own hard-linked copy of the embeddings
    file, so the index is built from scratch; the copy and its index
    are removed when the pass ends. The seed picks the appended novel
    vectors (10% of the base) and the deleted ids (2% of the base plus
    the appended rows, never a query vector).

    Checks, made right after the step they follow: stored rows equal
    base plus appended, minus deleted once compacted; no deleted id is
    ever served; the serve result is the same before and after
    compaction.
    """

    tables = ("embeddings",)
    inline_checks = True

    def __init__(self, spark, data_dir: str, work_dir: str, root: str, seed: int):
        self.spark, self.root = spark, root
        self.src = os.path.join(data_dir, "embeddings.parquet")
        self.work = os.path.join(work_dir, "ann")
        ids = pq.read_table(self.src, columns=["vec_id"]).column(0).to_pylist()
        self.n_base = len(ids)
        dim = len(pq.read_table(self.src, columns=["embedding"]).column(0)[0])
        rng = np.random.default_rng(seed)
        n_app = max(1, self.n_base // 10)
        v = rng.standard_normal((n_app, dim))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        new_ids = range(max(ids) + 1, max(ids) + 1 + n_app)
        self.appended = spark.createDataFrame(
            [(i, row.tolist()) for i, row in zip(new_ids, v)], "vec_id long, v array<double>"
        )
        self.n_app = n_app
        live = [i for i in list(ids) + list(new_ids) if i % 100 != 0]
        self.deleted = {int(x) for x in rng.choice(live, max(1, self.n_base // 50), replace=False)}
        self.deleted_frame = spark.createDataFrame(
            [(i,) for i in sorted(self.deleted)], "vec_id long"
        )
        base = load_table(spark, data_dir, "embeddings")
        self.queries = base.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("query_id"),
            as_double_array(F.col("embedding")).alias("qv"),
        ).withColumn("qnorm", norm(F.col("qv")))
        self.stats: dict = {}

    def _dir(self, p: int) -> str:
        return os.path.join(self.work, f"pass{p}")

    def steps(self, p: int) -> list[Step]:
        spark, d = self.spark, self._dir(p)
        os.makedirs(d, exist_ok=True)
        os.link(self.src, os.path.join(d, "embeddings.parquet"))
        state = {"path": None, "before": None}
        self._state = state

        def build():
            state["path"] = sim.build_ann_index(spark, d)

        def serve():
            return sim.serve_ann_index(spark, state["path"], self.queries)

        def stored(expected: int) -> str | None:
            got = sim.sim_index_stats(spark, d).collect()[0]["n_vectors"]
            return None if got == expected else f"stored rows {got} != {expected}"

        def served(df, deleted: set) -> tuple[list, str | None]:
            rows = sorted(tuple(r) for r in df.select("query_id", "rank", "neighbor_id").collect())
            leaked = {r[2] for r in rows} & deleted
            if not rows or leaked:
                return rows, f"serve returned {len(rows)} rows, deleted ids {sorted(leaked)[:5]}"
            return rows, None

        def check_pending(df) -> str | None:
            state["before"], bad = served(df, self.deleted)
            return bad

        def check_final(df) -> str | None:
            rows, bad = served(df, self.deleted)
            if bad is None and rows != state["before"]:
                bad = "serve result changed across compaction"
            return bad

        n_all = self.n_base + self.n_app
        mod = "llm.similarity"
        return [
            Step("build", mod, build, lambda _r: stored(self.n_base)),
            Step("serve", mod, serve, lambda df: served(df, set())[1]),
            Step("append", mod, lambda: sim.append_to_ann_index(spark, state["path"], self.appended)),
            Step("delete", mod, lambda: sim.delete_from_ann_index(spark, state["path"], self.deleted_frame),
                 lambda _r: stored(n_all)),
            Step("serve", mod, serve, check_pending),
            Step("compact", mod, lambda: sim.compact_ann_index(spark, state["path"]),
                 lambda _r: stored(n_all - len(self.deleted))),
            Step("serve", mod, serve, check_final),
        ]

    def end_pass(self, p: int) -> None:
        path = self._state["path"]
        if path and os.path.isdir(path):
            files = [
                os.path.join(dp, f) for dp, _dn, fs in os.walk(path) for f in fs
            ]
            self.stats = {
                "generations": len(sim.ann_index_generations(path)),
                "files": len(files),
                "bytes": sum(os.path.getsize(f) for f in files),
                "source_bytes": os.path.getsize(self.src),
            }
        drop_cache_entries(self.root, self._dir(p))
        shutil.rmtree(self._dir(p), ignore_errors=True)

    def layer_stats(self) -> dict:
        return self.stats

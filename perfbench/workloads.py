"""The benchmark's workloads and the closed loop that drives them.

One client runs one pass at a time and starts the next only after the
previous one finished (closed loop). A pass is every query of a query
workload once, in a seeded order, or one CDC cycle. The first pass in the
fresh session is reported on its own (``cold_cpu_s``, and its wall as the
traced run's ``process.cold_pass_s``); the warm passes that follow run
until ``--seconds`` have elapsed and the workload's minimum count of them is
reached.

Workloads
---------
``cdc_cycle``
    The reference's 15-minute ELT cycle: ``pipelines.sales_pipeline_cycle``
    with ``IncrementalMart`` partials (pipeline 1, then incremental
    pipeline 2) over a seeded OLTP source (catalogs from
    ``workload.WorkloadGenerator``, sales from :mod:`changes`). Each cycle
    first applies one untimed change batch: inserts dated inside the cycle's
    window, updates (p=0.01 per op) and deletes (p=0.001 per op) spread
    uniformly over the source's history.
``lake_queries`` / ``corpus_operators``
    Warm passes over fixed lists of registry queries on tables generated by
    :mod:`inputs`. Before every execution the Spark cache and the scoped
    operator caches are released, so no timed run is a cache hit. A
    ``corpus_operators`` run takes about 150 s on 4 cores, so it is left out
    of ``BENCHMARK.json``'s workloads and run by hand.
"""

from __future__ import annotations

import hashlib
import os
import time
from datetime import datetime, timedelta

import numpy as np

import changes
import inputs
from spans import Patcher, Recorder, count_plan_nodes

LAKE_QUERIES = (
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q18",
    "mart_client_count", "mart_sales_agg", "asof_attribution", "sessionize",
)
CORPUS_QUERIES = (
    "semantic_dedup", "bm25_store_probe", "dedup_minhash", "dedup_exact",
    "doc_winnow_span_scrub_apply", "decontaminate", "decontaminate_spans",
    "text_quality_score", "text_repetition_score", "ann_topk_cosine",
    "part_copurchase_pagerank",
)
QUERY_SCALE = 0.01
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def sub_seed(seed: int, *parts) -> int:
    """Independent, reproducible stream for one part of a run."""
    h = hashlib.sha256(repr((seed,) + parts).encode()).digest()
    return int.from_bytes(h[:8], "little")


class QueryWorkload:
    """Warm passes over a fixed query list; every result is checked against
    the DuckDB oracle's value hash computed once in set-up."""

    MIN_WARM_PASSES = 3  # the median of three absorbs one disturbed pass

    def __init__(self, names: tuple[str, ...]):
        self.names = names

    def setup(self, spark, work: str, seed: int) -> float:
        """Generate the tables and the oracle hashes; returns generation seconds."""
        import duckdb
        from check_correctness import value_hash

        from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

        self.spark, self.seed, self.value_hash = spark, seed, value_hash
        self.specs = {n: REGISTRY[n] for n in self.names}
        self.sf_dir = os.path.join(work, "tables")
        t0 = time.perf_counter()
        inputs.generate(self.sf_dir, sub_seed(seed, "tables"), QUERY_SCALE)
        gen_s = time.perf_counter() - t0
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            self.expected = {}
            for n, spec in self.specs.items():
                res = con.sql(spec.oracle)
                self.expected[n] = value_hash(res.columns, res.fetchall())
        finally:
            con.close()
        self.pending: list[tuple[str, list, list]] = []
        self.plan_nodes: dict[str, dict] = {}
        return gen_s

    def prepare(self, k: int) -> None:
        self.order = list(self.names)
        np.random.default_rng(sub_seed(self.seed, "order", k)).shuffle(self.order)

    def run_pass(self, rec: Recorder, tagged: bool, count_plans: bool) -> None:
        from bigdatapipelinepysparksqlserver_spark.caching import release_caches

        spark = self.spark
        for name in self.order:
            with rec.span("caching.release"):
                spark.catalog.clearCache()
                release_caches()
            try:
                with rec.span("query", op=name):
                    with rec.span("queries.build"):
                        df = self.specs[name].fn(spark, self.sf_dir)
                    if tagged:
                        with rec.span("spark.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with rec.span("spark.exec"):
                        rows = df.collect()
            except Exception as e:  # counted as a failed operation; the loop goes on
                self.pending.append((name, None, f"{type(e).__name__}: {e}"))
                continue
            if count_plans:
                self.plan_nodes[name] = count_plan_nodes(df._jdf.queryExecution().executedPlan())
            self.pending.append((name, df.columns, rows))

    def check(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, messages) for the executions since the last check."""
        msgs = []
        for name, cols, rows in self.pending:
            if cols is None:
                msgs.append(f"{name}: {rows}")
                continue
            got = self.value_hash(cols, [tuple(r) for r in rows])
            if got != self.expected[name]:
                msgs.append(f"{name}: result hash {got} != oracle {self.expected[name]}")
        n = len(self.pending)
        self.pending = []
        return n, len(msgs), msgs

    def finish(self) -> tuple[int, int, list[str]]:
        return 0, 0, []

    def describe(self) -> dict:
        return {}

    def trace_patches(self, patcher: Patcher, rec: Recorder) -> None:
        from bigdatapipelinepysparksqlserver_spark.sources import catalog

        patcher.function(catalog.load_table, rec.wrap("sources.catalog.load", catalog.load_table))

    def pass_counts(self, k: int) -> dict:
        return {}

    def op_patches(self, patcher: Patcher, rec: Recorder) -> None:
        pass

    @staticmethod
    def op_of(span) -> str | None:
        return span.attrs.get("op")


class CdcWorkload:
    """Incremental CDC cycles over a seeded OLTP source.

    Set-up builds the source: ``BASE_ROWS`` sales over ``HISTORY_DAYS`` of
    monthly partitions. Pass 0, the cold pass, is the first cycle: the full
    load of the lake and the bootstrap of the mart partials. Pass ``k``
    applies change batch ``k`` and runs the cycle that fires at
    ``T0 + k * 15 min``."""

    T0 = datetime(2024, 6, 3, 0, 0)
    INTERVAL = timedelta(minutes=15)
    HISTORY_DAYS = 90
    BASE_ROWS = 6_000
    CLIENTS, PRODUCTS = 300, 50
    OPS_PER_CYCLE = 1_000
    MIN_WARM_PASSES = 2  # a cycle costs twice a query pass
    P_UPDATE, P_DELETE = 0.01, 0.001

    def setup(self, spark, work: str, seed: int) -> float:
        from bigdatapipelinepysparksqlserver_spark import pipelines
        from bigdatapipelinepysparksqlserver_spark.plans.ledger import RunLedger
        from bigdatapipelinepysparksqlserver_spark.plans.mart_incremental import IncrementalMart
        from bigdatapipelinepysparksqlserver_spark.sources.lake import LakeTable
        from bigdatapipelinepysparksqlserver_spark.workload import SourceTables, WorkloadGenerator

        self.spark, self.seed, self.pipelines = spark, seed, pipelines
        self.src = SourceTables(spark, os.path.join(work, "oltp"))
        t0 = time.perf_counter()
        WorkloadGenerator(self.src, seed=sub_seed(seed, "source") % 2**31).seed_dimensions(
            n_clients=self.CLIENTS, n_products=self.PRODUCTS)
        changes.apply_batch(
            self.src.root, np.random.default_rng(sub_seed(seed, "apply", 0)),
            {"inserts": self.BASE_ROWS, "updates": 0, "deletes": 0}, now=self.T0,
            spread=timedelta(days=self.HISTORY_DAYS), stamp=self.T0, tag=0)
        gen_s = time.perf_counter() - t0
        self.lake = LakeTable(spark, os.path.join(work, "lake"))
        self.ledger = RunLedger(spark, os.path.join(work, "ledger"))
        self.mart = pipelines.MartPublisher(os.path.join(work, "mart"))
        self.partials = IncrementalMart(spark, self.lake, os.path.join(work, "partials"))
        self.cycle = pipelines.sales_pipeline_cycle(
            spark, self.src, self.lake, self.ledger, self.mart, partials=self.partials
        )
        self.failures: list[str] = []
        self.attempted = 0
        self.batches: list[dict] = []
        self.partitions_changed: list[int] = []
        return gen_s

    def change_batch(self, k: int) -> dict:
        """Op counts of cycle ``k`` (seeded; same seed, same batches)."""
        rng = np.random.default_rng(sub_seed(self.seed, "batch", k))
        u = rng.random(self.OPS_PER_CYCLE)
        upd = int((u < self.P_UPDATE).sum())
        dele = int(((u >= self.P_UPDATE) & (u < self.P_UPDATE + self.P_DELETE)).sum())
        return {"inserts": self.OPS_PER_CYCLE - upd - dele, "updates": upd, "deletes": dele}

    def prepare(self, k: int) -> None:
        """Apply cycle ``k``'s change batch to the source (untimed)."""
        from bigdatapipelinepysparksqlserver_spark.plans.ledger import default_cutoff

        self.fire = self.T0 + k * self.INTERVAL
        if k == 0:
            return
        cutoff = default_cutoff(self.fire)
        rng = np.random.default_rng(sub_seed(self.seed, "apply", k))
        self.batches.append(changes.apply_batch(
            self.src.root, rng, self.change_batch(k), now=cutoff - timedelta(minutes=1),
            spread=timedelta(minutes=10), stamp=cutoff - timedelta(minutes=2), tag=k))

    def run_pass(self, rec: Recorder, tagged: bool, count_plans: bool) -> None:
        self.attempted += 1
        self.last_fire = self.fire
        try:
            rep = self.cycle(self.fire)
        except Exception as e:  # counted as a failed cycle; the next one retries
            self.failures.append(f"cycle at {self.fire}: {type(e).__name__}: {e}")
            self.partitions_changed.append(0)
            return
        self.partitions_changed.append(len(rep["pipeline_1"]["rebuilt_partitions"]))
        status = rep["pipeline_1"]["validation"].status
        if status != "SUCCESSFUL":
            self.failures.append(f"cycle at {self.fire}: validation {status}")

    def check(self) -> tuple[int, int, list[str]]:
        n, msgs = self.attempted, self.failures
        self.attempted, self.failures = 0, []
        return n, len(msgs), msgs

    def finish(self) -> tuple[int, int, list[str]]:
        """Published marts equal a full lake scan; lake COUNT/SUM equal the source."""
        import pyspark.sql.functions as F
        from check_correctness import value_hash

        from bigdatapipelinepysparksqlserver_spark.operators.relational import reconcile_aggs
        from bigdatapipelinepysparksqlserver_spark.plans.ledger import default_cutoff

        p, spark, msgs = self.pipelines, self.spark, []
        lake_df = self.lake.read()
        for table, full in (("sales_history_1", p.mart_client_count_df),
                            ("sales_history_2", p.mart_sales_agg_df)):
            want = full(lake_df, self.last_fire)
            got = self.mart.read(spark, table)
            hw = value_hash(want.columns, [tuple(r) for r in want.collect()])
            hg = value_hash(got.columns, [tuple(r) for r in got.collect()])
            if hw != hg:
                msgs.append(f"{table}: published mart differs from the full-scan mart")
        cutoff = default_cutoff(self.last_fire)
        src = self.src.read("sales").where(F.col("sale_date") < F.lit(cutoff))
        s = reconcile_aggs(src, "id", "paid").first()
        lk = reconcile_aggs(lake_df, "id", "paid").first()
        if (s.sale_count, s.paid_sum) != (lk.sale_count, lk.paid_sum):
            msgs.append(f"lake {lk.sale_count}/{lk.paid_sum} != source {s.sale_count}/{s.paid_sum}")
        self.live_source_rows = self.src.read("sales").count()
        return 3, len(msgs), msgs

    def op_patches(self, patcher: Patcher, rec: Recorder) -> None:
        """Per-pipeline timers, on in every pass (they feed ``op_geomean_s``)."""
        p = self.pipelines
        patcher.function(p.run_pipeline_1, rec.wrap("pipelines.pipeline_1", p.run_pipeline_1))
        patcher.function(p.run_pipeline_2_incremental,
                         rec.wrap("pipelines.pipeline_2", p.run_pipeline_2_incremental))

    @staticmethod
    def op_of(span) -> str | None:
        return span.name if span.name.startswith("pipelines.pipeline_") else None

    def trace_patches(self, patcher: Patcher, rec: Recorder) -> None:
        from bigdatapipelinepysparksqlserver_spark.plans import incremental
        from bigdatapipelinepysparksqlserver_spark.plans.reconcile import reconcile
        from bigdatapipelinepysparksqlserver_spark.plans.ledger import RunLedger
        from bigdatapipelinepysparksqlserver_spark.plans.mart_incremental import IncrementalMart
        from bigdatapipelinepysparksqlserver_spark.workload import SourceTables

        def wrap(name):
            return lambda fn: rec.wrap(name, fn)

        loader = incremental.IncrementalLoader
        patcher.method(loader, "run", wrap("plans.incremental.run"))
        patcher.method(loader, "changed_partition_list", wrap("plans.incremental.detect"))
        # the history lake only: the mart partials are LakeTables too, and
        # their writes belong to the mart refresh
        patcher.method(self.lake, "read", wrap("sources.lake.read"))
        patcher.method(self.lake, "overwrite_partitions", wrap("sources.lake.overwrite"))
        patcher.method(self.lake, "partitions", wrap("sources.lake.cleanup"))
        patcher.method(self.lake, "drop_partition_values", wrap("sources.lake.cleanup"))
        for m in ("read", "next_run_id", "previous_cutoff", "purge_failed", "start_run",
                  "finish_run", "start_validation", "finish_validation"):
            patcher.method(RunLedger, m, wrap("plans.ledger"))
        patcher.function(reconcile, rec.wrap("plans.reconcile", reconcile))
        patcher.method(IncrementalMart, "refresh", wrap("plans.mart_incremental.refresh"))
        patcher.method(self.pipelines.MartPublisher, "write_staging",
                       wrap("pipelines.mart.write_staging"))
        patcher.method(self.pipelines.MartPublisher, "publish", wrap("pipelines.mart.publish"))
        patcher.method(SourceTables, "read", wrap("workload.source.read"))
        self._files_before = lake_files(self.lake.path)

    def pass_counts(self, k: int) -> dict:
        """Lake files and bytes the traced cycle wrote, and its change size."""
        after = lake_files(self.lake.path)
        new = {f: n for f, n in after.items() if f not in self._files_before}
        b = self.batches[-1]
        return {
            "lake_files": len(new),
            "lake_bytes": sum(new.values()),
            "changed_rows": b["inserts"] + b["updates"] + b["deletes"],
            "partitions_changed": self.partitions_changed[-1],
        }

    def describe(self) -> dict:
        return {"batches": self.batches, "partitions_changed": self.partitions_changed}

    def lake_bytes_per_row(self) -> float:
        return sum(lake_files(self.lake.path).values()) / self.live_source_rows


def lake_files(root: str) -> dict[str, int]:
    """Data files under ``root`` with their sizes."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


WORKLOADS = {
    "cdc_cycle": CdcWorkload,
    "lake_queries": lambda: QueryWorkload(LAKE_QUERIES),
    "corpus_operators": lambda: QueryWorkload(CORPUS_QUERIES),
}


"""The benchmark's closed-loop workloads.

Each workload drives the engine only through its public functions and
times those calls from outside. One client issues the next operation when
the previous one has returned.

- ``nightly_batch``: one full rebuild per operation, run as an
  ``orchestrator.Pipeline`` DAG: bronze→silver→gold plus the corpus's
  n-gram near-duplicate pairs.
- ``gold_refresh``: per operation, land one delta file of silver orders,
  run ``streaming.stream_gold_refresh`` over it, then issue a batch of
  ``Lake.point_lookup`` reads.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from dataengineeringpipeline_spark import cleaning, features, gold, ivm, quality, streaming
from dataengineeringpipeline_spark.cache import release_caches
from dataengineeringpipeline_spark.datalake import Lake
from dataengineeringpipeline_spark.operators import dedup
from dataengineeringpipeline_spark.orchestrator import Pipeline, critical_path
from pyspark.sql.streaming import StreamingQueryListener

import checks
from gen import SIZES
from measure import Tracer, parquet_inodes, rewrite_stats


@dataclass
class Ctx:
    spark: object
    work: str  # the run's scratch directory
    inputs: str  # generated bronze tables, one directory per table
    manifest: dict
    tracer: Tracer
    seed: int


#: Spark types of the generated tables' Arrow types; timestamps carry no
#: time zone, so Spark reads them as TIMESTAMP_NTZ either way
SPARK_TYPES = {"int64": "bigint", "int32": "int", "string": "string", "double": "double",
               "timestamp[us]": "timestamp_ntz"}


def _read(ctx: Ctx, table: str):
    """A generated bronze table, read with its schema given, which spares
    Spark the schema-inference job a plain read runs."""
    path = os.path.join(ctx.inputs, table)
    schema = pq.read_schema(os.path.join(path, "part-000.parquet"))
    ddl = ", ".join(f"{f.name} {SPARK_TYPES[str(f.type)]}" for f in schema)
    return ctx.spark.read.schema(ddl).parquet(path)


def traced_lake(ctx: Ctx, name: str) -> Lake:
    """A lake under the run's directory whose ``write`` calls open a
    ``datalake.write`` span when the run is traced."""
    lake = Lake(os.path.join(ctx.work, name))
    if ctx.tracer.enabled:
        write = lake.write

        def traced_write(df, layer, table, *args, **kwargs):
            with ctx.tracer.span("datalake.write", table=f"{layer}.{table}"):
                return write(df, layer, table, *args, **kwargs)

        lake.write = traced_write
    return lake


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


# -- nightly_batch -------------------------------------------------------------

NIGHTLY_OUTPUTS = {  # gold table -> oracle twin
    "daily_sales_summary": "daily_sales_summary",
    "customer_analytics": "customer_analytics",
    "supplier_performance": "supplier_performance",
    "category_performance": "category_performance",
    "ml_customer_features": "ml_customer_features",
    "near_dup_pairs": "ngram_jaccard_pairs",
}
BRONZE = ("orders", "customer", "nation", "region", "part", "supplier", "lineitem", "documents")


class Workload:
    name: str
    min_ops: int  # timed operations a run makes at least
    counts: dict = {}  # exact counts the checks found, reported by traced runs


class NightlyBatch(Workload):
    """The nightly rebuild DAG: the medallion branch (cleaning, quality
    rules and quarantine, gold and feature tables) and the corpus branch
    (n-gram near-duplicate pairs of the document corpus)."""

    name = "nightly_batch"
    sizes = SIZES["nightly_batch"]
    min_ops = 1

    def setup(self, ctx: Ctx) -> None:
        self.lake = traced_lake(ctx, "lake")
        tables = ctx.manifest["tables"]
        self.docs = tables["documents"]["rows"]
        self.medallion_rows = sum(t["rows"] for n, t in tables.items() if n != "documents")

    def pipeline(self) -> Pipeline:
        lake = self.lake

        def silver(df, table, partition_by=()):
            lake.write(df, "silver", table, partition_by=partition_by)
            return lake.read(df.sparkSession, "silver", table)

        def job(name, fn, deps=()):
            p.add(name, fn, tuple(deps))

        p = Pipeline()
        job("cleaning.orders", lambda r: silver(
            cleaning.clean_orders(r["bronze.orders"]), "orders", ("order_year",)))
        job("cleaning.customers", lambda r: silver(cleaning.clean_customers(
            r["bronze.customer"], r["bronze.nation"], r["bronze.region"]
        ).drop("geography"), "customers"))
        job("cleaning.parts", lambda r: silver(cleaning.clean_parts(r["bronze.part"]), "parts"))
        job("cleaning.lineitems", lambda r: silver(
            cleaning.clean_lineitems(r["bronze.lineitem"]), "lineitems"))
        job("quality.rules", lambda r: quality.evaluate_rules(
            r["cleaning.orders"], quality.ORDERS_RULES).collect(), ["cleaning.orders"])
        job("quality.quarantine", lambda r: quality.quarantine(
            r["cleaning.orders"], quality.ORDERS_RULES, lake, "orders"), ["quality.rules"])
        job("gold.daily_sales_summary", lambda r: lake.write(
            gold.daily_sales_summary(r["cleaning.orders"]), "gold", "daily_sales_summary"),
            ["quality.rules"])
        job("gold.customer_analytics", lambda r: lake.write(
            gold.customer_analytics(r["cleaning.customers"], r["cleaning.orders"]),
            "gold", "customer_analytics"), ["quality.rules", "cleaning.customers"])
        job("gold.supplier_performance", lambda r: lake.write(gold.supplier_performance(
            r["bronze.supplier"], r["bronze.nation"], r["cleaning.lineitems"]),
            "gold", "supplier_performance"), ["cleaning.lineitems"])
        job("gold.category_performance", lambda r: lake.write(
            gold.category_performance(r["cleaning.lineitems"], r["cleaning.parts"]),
            "gold", "category_performance"), ["cleaning.lineitems", "cleaning.parts"])
        job("features.ml_customer_features", lambda r: lake.write(
            features.ml_customer_features(r["cleaning.orders"]), "gold", "ml_customer_features"),
            ["quality.rules"])
        job("operators.near_dup_pairs", lambda r: lake.write(
            dedup.ngram_jaccard_pairs(r["bronze.documents"]), "gold", "near_dup_pairs"))
        return p

    def op(self, ctx: Ctx) -> dict:
        bronze = {f"bronze.{t}": _read(ctx, t) for t in BRONZE}
        p = self.pipeline()
        with ctx.tracer.span("orchestrator.Pipeline.run"):
            rec, dt = _timed(lambda: p.run(inputs=bronze))
        released = release_caches()
        if rec["status"] != "succeeded":
            raise RuntimeError(f"pipeline {rec['status']}: {rec['failed']}")
        self.rule_report = rec["results"]["quality.rules"]
        d = rec["durations"]
        corpus_s = d["operators.near_dup_pairs"]
        out = {
            "op_s": dt, "rows": self.medallion_rows + self.docs,
            "named": {
                "medallion_rows_per_s": self.medallion_rows / (sum(d.values()) - corpus_s),
                "corpus_docs_per_s": self.docs / corpus_s,
            },
        }
        if ctx.tracer.enabled:
            cp = critical_path(p, rec)["total_s"]
            out["layer"] = {
                "orchestrator.critical_path_s": cp,
                "orchestrator.serial_slack_s": sum(d.values()) - cp,
                **{
                    f"{mod}.busy_s": sum(v for k, v in d.items() if k.startswith(mod + "."))
                    for mod in ("cleaning", "quality", "gold", "features")
                },
                "operators.near_dup_pairs_s": corpus_s,
                "cache.persists_released": released,
            }
        return out

    def check(self, ctx: Ctx) -> list[str]:
        spark, lake, inputs = ctx.spark, self.lake, ctx.inputs
        problems = []
        for table, oracle in NIGHTLY_OUTPUTS.items():
            problems += checks.compare_frame(
                lake.read(spark, "gold", table), oracle, inputs, f"gold.{table}")
        report = self.rule_report  # the last operation's quality.evaluate_rules rows
        problems += checks.compare_rows(list(report[0].asDict()), report, "dq_rule_report",
                                        inputs, "quality.evaluate_rules")
        for table, oracle in (("orders", "silver_orders"), ("customers", "silver_customers"),
                              ("parts", "silver_parts"), ("lineitems", "silver_lineitems")):
            problems += checks.compare_count(
                checks.lake_rows(lake.path("silver", table)),
                checks.oracle_count(oracle, inputs), f"silver.{table} rows")
        self.counts = {
            "quality.rows_quarantined": checks.lake_rows(lake.path("quarantine", "orders")),
            "operators.near_dup_pairs": checks.lake_rows(lake.path("gold", "near_dup_pairs")),
        }
        problems += checks.compare_count(self.counts["quality.rows_quarantined"],
                                         ctx.manifest["dirty_orders"], "quality.rows_quarantined")
        return problems


# -- gold_refresh --------------------------------------------------------------

#: the silver-order columns the streamed refresh reads
DELTA_DDL = (
    "order_key bigint, customer_key bigint, order_year int, order_date date,"
    " total_price double, days_since_order int, order_size_category string,"
    " is_complete_order boolean"
)
DELTA_COLS = [c.split()[0] for c in DELTA_DDL.split(",")]


class GoldRefresh(Workload):
    name = "gold_refresh"
    sizes = SIZES["gold_refresh"]
    min_ops = 6
    lookups_per_op = 5  # 30 lookups a run: more than 10 samples beyond the median
    gold_files = 16  # range partitions of the bootstrapped gold table

    def setup(self, ctx: Ctx) -> None:
        spark = ctx.spark
        self.lake = traced_lake(ctx, "lake")
        self.src = os.path.join(ctx.work, "arrivals")
        self.ckpt = os.path.join(ctx.work, "checkpoint")
        os.makedirs(self.src)
        self.customers = cleaning.clean_customers(
            _read(ctx, "customer"), _read(ctx, "nation"), _read(ctx, "region")
        ).drop("geography").persist()
        base = cleaning.clean_orders(_read(ctx, "orders")).select(*DELTA_COLS)
        with ctx.tracer.span("ivm.maintain_customer_partials"):
            ivm.maintain_customer_partials(self.lake, base)
        initial = ivm.customer_analytics_from_partials(
            self.customers, self.lake.read(spark, "gold", "customer_partials")
        )
        self.lake.write(
            initial.repartitionByRange(self.gold_files, "customer_key")
            .sortWithinPartitions("customer_key"),
            "gold",
            "customer_analytics",
        )
        # the delta stream as silver rows, derived by the engine's cleaner
        raw = _read(ctx, "deltas")
        with ctx.tracer.span("cleaning.clean_orders"):
            deltas = (
                cleaning.clean_orders(raw.drop("delta_id"))
                .select(*DELTA_COLS)
                .join(raw.selectExpr("o_orderkey AS order_key", "delta_id"), "order_key")
                .orderBy("delta_id", "order_key")
                .toArrow()
            )
        self.deltas = [
            deltas.filter(pc.equal(deltas["delta_id"], d)).drop_columns(["delta_id"])
            for d in range(self.sizes.deltas)
        ]
        self.landed = 0
        shift = ctx.manifest["key_shift"]
        self.all_keys = list(range(shift, shift + self.sizes.customers))
        self.rng = random.Random(ctx.seed)
        self.listener = None
        if ctx.tracer.enabled:
            self.listener = _ProgressListener()
            spark.streams.addListener(self.listener)

    def _land(self) -> pa.Table:
        """Write the next delta file into the arrival directory atomically."""
        d = self.deltas[self.landed]
        tmp = os.path.join(self.src, f".delta-{self.landed:05d}.tmp")
        pq.write_table(d, tmp)
        os.replace(tmp, os.path.join(self.src, f"delta-{self.landed:05d}.parquet"))
        self.landed += 1
        return d

    def op(self, ctx: Ctx) -> dict:
        if self.landed >= len(self.deltas):
            raise RuntimeError("delta stream exhausted")
        batch_id = self.landed
        table = self.lake.path("gold", "customer_analytics")
        before = parquet_inodes(table) if ctx.tracer.enabled else None
        delta = self._land()
        skewed = batch_id % 2 == 0
        with ctx.tracer.span("streaming.stream_gold_refresh", batch_id=batch_id,
                             skewed=skewed) as sp:
            _, refresh_s = _timed(lambda: streaming.stream_gold_refresh(
                ctx.spark, self.src, self.lake, self.customers, self.ckpt, DELTA_DDL,
                max_files_per_trigger=1,
            ))
        released = release_caches()
        touched = sorted(set(delta.column("customer_key").to_pylist()))
        half = self.lookups_per_op // 2
        hot = self.rng.sample(touched, min(half, len(touched)))
        touched_set = set(touched)
        cold = []
        while len(cold) < self.lookups_per_op - len(hot):
            k = self.rng.choice(self.all_keys)
            if k not in touched_set:
                cold.append(k)
        lookups, reads, failed = [], [], 0
        for key in hot + cold:
            with ctx.tracer.span("datalake.point_lookup", key=key):
                t0 = time.perf_counter()
                df, rep = self.lake.point_lookup(
                    ctx.spark, "gold", "customer_analytics", "customer_key", [key]
                )
                rows = df.collect()
                lookups.append(time.perf_counter() - t0)
            reads.append(rep["files_read"] / rep["files_total"])
            failed += len(rows) != 1 or rows[0]["customer_key"] != key
        out = {
            "op_s": refresh_s, "rows": delta.num_rows, "lookups": lookups,
            "lookup_failed": failed, "fold": "streaming.stream_gold_refresh",
        }
        if sp is not None:
            after = parquet_inodes(table)
            rw = rewrite_stats(before, after)
            delta_bytes = os.path.getsize(
                os.path.join(self.src, f"delta-{batch_id:05d}.parquet"))
            prog = self.listener.wait_for(batch_id)
            dur = prog["durationMs"]
            trig = dur.get("triggerExecution", 0) / 1000.0
            add = dur.get("addBatch", 0) / 1000.0
            kind = "skewed" if skewed else "uniform"
            out["layer"] = {
                "datalake.files_rewritten_frac": rw["files_rewritten_frac"],
                f"datalake.files_rewritten_frac.{kind}": rw["files_rewritten_frac"],
                "datalake.bytes_written_per_delta_byte": rw["bytes_written"] / delta_bytes,
                "datalake.table_files": rw["table_files"],
                "datalake.lookup_files_read_frac": sum(reads) / len(reads),
                "streaming.trigger_s": trig,
                "streaming.bookkeeping_s": trig - add,
                "streaming.start_stop_s": refresh_s - trig,
                "ivm.refresh_s": add,
                "cache.persists_released": released,
            }
            sp.attrs.update(out["layer"], touched_keys=len(touched))
        return out

    def check(self, ctx: Ctx) -> list[str]:
        problems = checks.compare_frame(
            self.lake.read(ctx.spark, "gold", "customer_analytics"),
            "customer_analytics", ctx.inputs, "gold.customer_analytics (refreshed)",
            deltas_landed=self.landed,
        )
        commits = os.path.join(self.ckpt, "commits")
        batches = len([f for f in os.listdir(commits) if f.isdigit()])
        self.counts = {"streaming.batches": batches}
        problems += checks.compare_count(batches, self.landed, "streaming.batches")
        return problems


class _ProgressListener(StreamingQueryListener):
    """Keeps each micro-batch's progress by ``batchId``. Progress events
    arrive asynchronously, sometimes after ``awaitTermination`` returns,
    so readers wait for the batch they need."""

    def __init__(self):
        self.progress: dict[int, dict] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress[p.batchId] = {"durationMs": dict(p.durationMs), "rows": p.numInputRows}

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, batch_id: int, timeout_s: float = 30.0) -> dict:
        deadline = time.monotonic() + timeout_s
        while batch_id not in self.progress:
            if time.monotonic() > deadline:
                raise TimeoutError(f"no progress event for batch {batch_id}")
            time.sleep(0.02)
        return self.progress[batch_id]


WORKLOADS = {w.name: w for w in (NightlyBatch, GoldRefresh)}

"""The benchmark workloads.

Each workload names its input layout, the operations of one pass (in
a seeded order) and the DuckDB twins its correctness gate compares
against. With ``check=True`` an operation leaves its result in
``Workload.results`` for the gate.

- ``report_mix``: readers of the conformed store and of the training
  corpus. Short reporting queries (relational core, rollup/cube,
  windows, sessionize, funnels) and corpus operators (exact and MinHash
  dedup, Gopher quality rules, LSH k-NN) into the noop sink; nothing is
  written. Every table is one file with one row group, so scans are
  single-task and ``functions.spread`` repartitions; driver-side plan
  building, eager probe jobs and per-row hashing weigh most here.
- ``distribution_load``: the nightly load. A full rebuild of the marts
  through ``plans.pipeline.run_etl`` and of the curated corpus through
  ``plans.curation.run_curation``, over a lake layout (many files of
  several row groups, so scans split and ``spread`` does nothing); then
  held-back orders land in drops, each folded into the versioned
  month x segment rollup by ``streaming.jobs.stream_maintain_rollup``
  with one ``availableNow`` trigger. The only workload that writes, and
  so the only one that runs ``sources.sinks``, ``sources.versioned``,
  ``plans.incremental`` and ``streaming``.
"""

from __future__ import annotations

import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from gen import Layout

ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")
LOAD_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "documents")

# §2.A relational core, rollup/cube, windows, sessionize and funnels
REPORT_QUERIES = (
    "q1_pricing_summary", "rollup_priority_status", "cube_status_priority",
    "grouping_sets_report", "latest_event_per_user", "sessionize_events",
)

# corpus curation: per-row hashing, quality rules, vector search
CORPUS_QUERIES = (
    "exact_dedup", "minhash_lsh_pairs", "gopher_quality_rules", "knn_lsh",
)


@dataclass
class Op:
    name: str
    fn: Callable[[bool], None]


def _layer(fn) -> str:
    """Layer of an operator function: its module below the package."""
    return fn.__module__.split(".", 1)[1]


def dir_bytes(path: Path) -> tuple[int, int]:
    """Bytes and count of the parquet files under ``path``."""
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


class Workload:
    name = ""
    layout: Layout

    def __init__(self, run):
        self.run = run
        self.results: dict[str, object] = {}
        self.out_rows = 0  # input rows of the pass's writes

    def begin_pass(self, index: int) -> None:
        """Untimed preparation before pass ``index``."""

    def ops(self, rng: random.Random) -> list[Op]:
        raise NotImplementedError

    def oracle_request(self) -> dict:
        raise NotImplementedError

    def table_checksums(self) -> dict[str, tuple]:
        """Spark-side checksums of the tables the checked pass wrote."""
        return {}

    # -- shared op shapes ----------------------------------------------
    def _query_op(self, name: str) -> Op:
        run = self.run
        fn = run.registry_ops[name]
        layer = _layer(run.operators[name])

        def op(check: bool) -> None:
            with run.tracer.span("registry", name):
                df = fn(run.spark, run.input_dir)
            with run.tracer.span(layer, name):
                if check:
                    self.results[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()

        return Op(name, op)

    def _checksum(self, view_df, name: str) -> tuple:
        from oracle import checksum_sql

        cols = self.run.expected["checksums"][name]["columns"]
        view = f"perfbench_check_{name}"
        view_df.createOrReplaceTempView(view)
        row = self.run.spark.sql(checksum_sql(cols, view, "spark")).first()
        return tuple(row)


class ReportMix(Workload):
    name = "report_mix"
    layout = Layout(sf=0.02, tables=ALL_TABLES)
    queries = REPORT_QUERIES + CORPUS_QUERIES

    def ops(self, rng):
        return [self._query_op(n)
                for n in rng.sample(self.queries, len(self.queries))]

    def oracle_request(self):
        sql = self.run.oracle_sql
        return {"frames": {n: sql[n] for n in self.queries}}


class DistributionLoad(Workload):
    name = "distribution_load"
    layout = Layout(sf=0.02, tables=LOAD_TABLES, lake=True, files=16,
                    row_groups_per_file=2, drops=2, drop_share=0.1)

    def begin_pass(self, index):
        run = self.run
        shutil.rmtree(run.out_dir / f"load-{index - 1}", ignore_errors=True)
        self.base = run.out_dir / f"load-{index}"
        for d in ("src", "ck"):
            (self.base / d).mkdir(parents=True)
        self.outputs: dict[str, str] = {}
        self.out_rows = 0

    def _rebuild(self, check: bool) -> None:
        from openlmis_distributions_etl_spark.plans.pipeline import run_etl

        run = self.run
        metrics: dict[str, dict] = {}
        with run.tracer.span("plans.pipeline", "run_etl"):
            marts = run_etl(run.spark, run.input_dir,
                            str(self.base / "marts"), metrics=metrics)
        self.outputs.update(marts)
        self.rows_loaded = int(metrics["fact_lineitem_flat"]["rows_loaded"])
        self.out_rows += self.rows_loaded

    def _curate(self, check: bool) -> None:
        from openlmis_distributions_etl_spark.plans.curation import (
            run_curation)

        run = self.run
        with run.tracer.span("plans.curation", "run_curation"):
            out = run_curation(run.spark, run.input_dir,
                               str(self.base / "corpus"))
        self.outputs.update(out)
        self.out_rows += run.manifest["rows"]["documents"]

    def _stream(self, name: str) -> None:
        from openlmis_distributions_etl_spark.streaming import jobs

        run = self.run
        b = self.base
        with run.tracer.span("streaming", name):
            stream = (run.spark.readStream.schema(self.orders_schema)
                      .parquet(str(b / "src")))
            q = jobs.stream_maintain_rollup(
                stream, str(b / "fact"), str(b / "rollup"), self.customer,
                str(b / "ck"))
            run.tracer.adopt(str(q.runId))
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"{name}: {q.exception()}")

    def _prime(self, check: bool) -> None:
        """Land the base orders as the stream's first batch: a fresh
        versioned fact plus a full build of the rollup."""
        run = self.run
        orders_dir = Path(run.input_dir) / "orders.parquet"
        for f in sorted(orders_dir.glob("*.parquet")):
            os.link(f, self.base / "src" / f"base-{f.name}")
        self._stream("stream_prime")

    def _drop_op(self, rel: str) -> Op:
        run = self.run
        name = Path(rel).stem

        def op(check: bool) -> None:
            os.link(Path(run.input_dir) / rel,
                    self.base / "src" / f"{name}.parquet")
            self._stream(name)

        return Op(name, op)

    def ops(self, rng):
        from openlmis_distributions_etl_spark.sources import load_tables

        tables = load_tables(self.run.spark, self.run.input_dir)
        self.orders_schema = tables["orders"].schema
        self.customer = tables["customer"]
        drops = self.run.manifest["drops"]
        rebuilds = [Op("rebuild", self._rebuild),
                    Op("run_curation", self._curate)]
        return (rng.sample(rebuilds, len(rebuilds))
                + [Op("stream_prime", self._prime)]
                + [self._drop_op(d) for d in drops])

    def oracle_request(self):
        sql = self.run.oracle_sql
        return {"extra_orders": list(self.run.manifest["drops"]),
                "checksums": {
                    "fact_lineitem_flat": {"sql": sql["star_denormalize"],
                                           "drops": False},
                    "mart_monthly_sales": {"sql": sql["monthly_sales_rollup"],
                                           "drops": False},
                    "curated_documents": {"sql": sql["curation_pipeline"],
                                          "drops": False},
                    "rollup": {"sql": sql["monthly_sales_rollup"],
                               "drops": True}}}

    def table_checksums(self):
        from openlmis_distributions_etl_spark.sources.versioned import (
            read_versioned)

        spark = self.run.spark
        out = {n: self._checksum(spark.read.parquet(p), n)
               for n, p in self.outputs.items()}
        out["rollup"] = self._checksum(
            read_versioned(spark, str(self.base / "rollup")), "rollup")
        return out


WORKLOADS = {w.name: w for w in (ReportMix, DistributionLoad)}

"""The workloads: what one pass runs and how its output is checked.

Each workload generates its inputs from the seed and runs one pass of
its op mix through :class:`perfbench.harness.Ctx`, which times and tags
every op and runs the correctness checks outside the timed region.
"""

from __future__ import annotations

import os
import random

from perfbench import gen_staging, gen_star, oracle

# the curation mix, run in this order every pass
CORPUS_MIX = (
    "text_repetition_gopher", "sim_semantic_dedup", "dedup_minhash_lsh", "dedup_exact",
    "text_lm_score", "sim_kmeans_assign", "sim_ivfpq_refine", "dedup_threshold_sweep",
)
API_VIEWS = ("vm_revenus", "vm_demographie")
API_LIMIT = 100


class CorpusCuration:
    """The registry's corpus-curation queries over generated documents
    and embeddings, as a curation batch job runs them: once each, in a
    fixed order, in a fresh JVM. Every result is collected and checked
    against its DuckDB oracle after the timed passes."""

    name = "corpus_curation"

    def __init__(self, mix: list[str], scale: float):
        self.mix = list(mix)
        self.scale = scale

    def generate(self, out_dir: str, seed: int) -> None:
        gen_star.write_star(out_dir, seed, self.scale)
        self.sf_dir = out_dir

    def setup(self, ctx) -> None:
        from evolution_data_warehouse_spark.queries import REGISTRY

        self.registry = REGISTRY
        self.con = oracle.star_connection(self.sf_dir)

    def run_pass(self, ctx, rng: random.Random) -> None:
        # a fixed order: in a cold JVM the first queries pay for loading
        # and compiling the code the later ones share
        for name in self.mix:
            q = self.registry[name]
            ctx.run_query(
                name,
                lambda q=q: q.fn(ctx.spark, self.sf_dir),
                check=lambda cols, rows, q=q: oracle.check_query(self.con, q.oracle, cols, rows),
            )


class WarehouseEtl:
    """The paper's DAG as a batch job runs it, in a fresh JVM:
    ``run_full_etl`` over seeded staging CSVs into a fresh directory,
    then the incremental tail (SCD2 bootstrap and merge of a commune
    snapshot with ~5 % changed, partition-scoped reload of one year of
    ``fait_population``), then the read layer (``create_datamarts`` and
    ``TableReadAPI.get_table`` reads of the star views). Every check
    runs after the timed passes, on what they wrote."""

    name = "warehouse_etl"

    def __init__(self, communes: int, views: tuple[str, ...], scale: float):
        self.communes = communes
        self.views = views
        self.scale = scale

    def generate(self, out_dir: str, seed: int) -> None:
        self.paths = gen_staging.write_staging(out_dir, seed, self.communes)
        self.csv_bytes = os.path.getsize(self.paths["stg_population"])
        self.sf_dir = os.path.join(out_dir, "star")
        gen_star.write_star(self.sf_dir, seed, self.scale)
        self.seed = seed

    def setup(self, ctx) -> None:
        from evolution_data_warehouse_spark.api import TableReadAPI
        from evolution_data_warehouse_spark.plans.datamarts import create_datamarts
        from evolution_data_warehouse_spark.sources.staging import prepare_tables
        from evolution_data_warehouse_spark.warehouse import facts
        from evolution_data_warehouse_spark.warehouse.etl import (
            run_full_etl,
            write_fact_incremental,
        )
        from evolution_data_warehouse_spark.warehouse.scd_store import upsert_scd2

        self.run_full_etl = run_full_etl
        self.write_fact_incremental = write_fact_incremental
        self.upsert_scd2 = upsert_scd2
        self.prepare_tables = prepare_tables
        self.facts = facts
        self.create_datamarts = create_datamarts
        self.reader = TableReadAPI(ctx.spark, list(self.views))
        self.specs = [gen_staging.population_spec(self.paths["stg_population"])]

        def read_communes(name):
            return (
                ctx.spark.read.option("header", True)
                .schema(gen_staging.COMMUNES_SCHEMA)
                .csv(self.paths[name])
            )

        self.communes_df = read_communes("communes")
        self.changed_df = read_communes("communes_changed")
        base = gen_staging.make_communes(self.seed, self.communes)
        self.n_communes = len(base)
        self.n_changed = sum(
            a != b for a, b in zip(base, gen_staging.change_communes(self.seed, base))
        )
        self.reload_year = 2010 + random.Random(f"reload-{self.seed}").randrange(15)
        self.out_root = os.path.join(ctx.work_dir, "warehouse")
        self.con = oracle.star_connection(self.sf_dir)

    def run_pass(self, ctx, rng: random.Random) -> None:
        from pyspark.sql import functions as F

        out = os.path.join(self.out_root, f"pass{ctx.pass_idx}")

        def etl_check(result):
            report, validations = result
            bad = [r.name for r in report.results if r.status != "OK"]
            bad += [v.name for v in validations if not v.ok]
            if not validations:
                bad.append("no validations ran")
            return f"run_full_etl: {bad}" if bad else None

        result = ctx.run_call(
            "run_full_etl",
            "warehouse",
            lambda: self.run_full_etl(ctx.spark, self.specs, out, self.communes_df),
            check=etl_check,
        )
        if result is not None:
            ctx.record_etl(result[0])

        scd_dir = os.path.join(out, "dim_commune_scd2")
        attrs = ["commune_nom", "departement_code", "population"]
        for name, snapshot, ts in (
            ("scd2_bootstrap", self.communes_df, "2024-01-01 00:00:00"),
            ("scd2_upsert", self.changed_df, "2025-01-01 00:00:00"),
        ):
            ctx.run_call(
                name,
                "warehouse",
                lambda snapshot=snapshot, ts=ts: self.upsert_scd2(
                    ctx.spark, scd_dir, snapshot, "commune_code", attrs,
                    F.lit(ts).cast("timestamp"),
                ),
            )
        ctx.defer_check(
            "scd2 history", lambda: oracle.check_scd2(scd_dir, self.n_communes, self.n_changed)
        )

        def reload():
            # an incremental load: stage the source again, resolve keys
            # against the dimensions the full load published
            stg = self.prepare_tables(ctx.spark, self.specs)["stg_population"]
            dims = {
                name: ctx.spark.read.parquet(os.path.join(out, name))
                for name in ("dim_temps", "dim_geographie", "dim_demographie")
            }
            year_fact = self.facts.fait_population(
                stg.filter(F.col("year") == self.reload_year), dims
            )
            return self.write_fact_incremental(year_fact, out, "fait_population")

        ctx.run_call(
            "fact_reload",
            "warehouse",
            reload,
            check=lambda rows: None if rows > 0 else "fact reload wrote no rows",
        )
        ctx.count_files(out)

        def facts_check():
            # run after the reload: the reloaded year must leave every
            # total equal to the staging aggregate
            problems = [oracle.check_population_fact(out, self.paths["stg_population"])]
            parts = [
                d for d in os.listdir(os.path.join(out, "fait_population"))
                if d.startswith("temps_id=")
            ]
            if len(parts) != len(gen_staging.YEARS):
                problems.append(f"fait_population has {len(parts)} partitions")
            return "; ".join(p for p in problems if p) or None

        ctx.defer_check("fact totals", facts_check)

        ctx.run_call(
            "create_datamarts",
            "plans",
            lambda: self.create_datamarts(ctx.spark, self.sf_dir),
            check=lambda names: None
            if set(self.views) <= set(names)
            else f"create_datamarts returned {names}",
        )
        for view in rng.sample(self.views, len(self.views)):
            rows = ctx.run_call(
                f"get_table:{view}", "api", lambda v=view: self.reader.get_table(v, limit=API_LIMIT)
            )
            ctx.defer_check(
                f"get_table:{view} rows",
                lambda v=view, rows=rows: oracle.check_api_rows(self.con, v, rows or [], API_LIMIT),
            )


def make(name: str, toy: bool = False):
    """The workload called ``name``; ``toy`` shrinks it for smoke tests."""
    if name == "corpus_curation":
        return CorpusCuration(CORPUS_MIX[:2] if toy else CORPUS_MIX, scale=0.2 if toy else 0.5)
    if name == "warehouse_etl":
        return WarehouseEtl(
            communes=1 if toy else 2,
            views=API_VIEWS[:1] if toy else API_VIEWS,
            scale=0.2,
        )
    raise KeyError(name)


WORKLOADS = ("corpus_curation", "warehouse_etl")

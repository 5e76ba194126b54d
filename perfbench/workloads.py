"""The benchmark's workloads, each a list of units run through the
engine's public entry points the way a user calls them.

A workload is built before the Spark session exists; the runner sets
its ``spark`` attribute once the session is up. A unit has a
``build`` step (Python plan construction, the ``plans`` layer) and a
``sink`` step (the action that makes Spark plan and run the query).
A pass runs every unit of its workload once.

The inputs are the engine's reference test tables, stored in
``perfbench/data/sf<scale>/`` so that a run reads nothing outside its
checkout.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

#: The warm-up query the set-up runs once, on a tiny input.
WARMUP_QUERY = "q_flagship"
WARMUP_DIR = os.path.join(DATA, "sf0.001")


@dataclass
class Unit:
    name: str
    build: Callable[[], Any]
    sink: Callable[[Any], None]


class Curation:
    """Text, dedup and scoring queries over ``documents``: the
    build-bound workload, whose builders run eager side jobs."""

    name = "curation_sf0.1"
    data_dir = os.path.join(DATA, "sf0.1")
    tables = ["documents"]
    queries = ["q_winnow_pairs", "q_dsir_scores", "q_kl_drift", "q_lm_score"]
    permute = True
    #: side of plans.build_share this workload is expected on
    build_share = (">=", 0.5)

    def __init__(self, work_dir: str):
        from fifa_data_pipeline_spark.plans import registry

        self.spark = None
        self.registry = registry

    def units(self) -> list[Unit]:
        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        return [
            Unit(
                q,
                lambda q=q: self.registry.QUERIES[q](self.spark, self.data_dir),
                noop,
            )
            for q in self.queries
        ]

    def before_pass(self) -> None:
        pass

    def written(self) -> tuple[int, int]:
        return 0, 0

    def checks(self) -> list[tuple[str, str, Callable]]:
        """``(name, oracle SQL, collect)`` for each query."""

        def collect(u: Unit):
            df = u.build()
            return list(df.columns), df.collect()

        return [
            (u.name, self.registry.ORACLES[u.name], lambda u=u: collect(u))
            for u in self.units()
        ]


class Etl:
    """The reference batch flow ``land_csvs`` -> ``materialize`` ->
    ``flagship_from`` -> ``write_table`` into an empty workspace: the
    write path. Each step reads what the one before it wrote, so the
    order is fixed."""

    name = "etl_sf0.01"
    data_dir = os.path.join(DATA, "sf0.01")
    tables = ["orders", "lineitem", "customer", "nation"]
    permute = False
    build_share = ("<=", 0.2)

    def __init__(self, work_dir: str):
        self.spark = None
        self.ws = os.path.join(work_dir, "etl")
        self.landing = os.path.join(self.ws, "landing")
        self.warehouse = os.path.join(self.ws, "warehouse")
        self.result = os.path.join(self.ws, "result")

    def units(self) -> list[Unit]:
        from fifa_data_pipeline_spark.plans import etl_flow
        from fifa_data_pipeline_spark.plans.flagship import flagship_from
        from fifa_data_pipeline_spark.sources.io import write_table

        def analyze():
            t = {
                n: self.spark.read.parquet(os.path.join(self.warehouse, n))
                for n in self.tables
            }
            return flagship_from(t["orders"], t["lineitem"], t["customer"], t["nation"])

        return [
            Unit(
                "land",
                lambda: None,
                lambda _: etl_flow.land_csvs(self.spark, self.data_dir, self.landing),
            ),
            Unit(
                "materialize",
                lambda: None,
                lambda _: etl_flow.materialize(self.spark, self.landing, self.warehouse),
            ),
            Unit("analyze", analyze, lambda df: write_table(df, self.result)),
        ]

    def before_pass(self) -> None:
        shutil.rmtree(self.ws, ignore_errors=True)

    def written(self) -> tuple[int, int]:
        """(bytes, files) of data files the last pass left in the
        workspace; Hadoop's ``_SUCCESS`` and ``.crc`` files excluded."""
        nbytes = nfiles = 0
        for d, _, files in os.walk(self.ws):
            for f in files:
                if not f.startswith(("_", ".")):
                    nbytes += os.path.getsize(os.path.join(d, f))
                    nfiles += 1
        return nbytes, nfiles

    def checks(self) -> list[tuple[str, str, Callable]]:
        """One check: run the flow and collect its sunk result, which
        the flagship oracle over the same inputs must reproduce."""
        from fifa_data_pipeline_spark.plans.flagship import FLAGSHIP_ORACLE

        def flow():
            self.before_pass()
            for u in self.units():
                u.sink(u.build())
            df = self.spark.read.parquet(self.result)
            return list(df.columns), df.collect()

        return [("etl_flow", FLAGSHIP_ORACLE, flow)]


WORKLOADS = {w.name: w for w in (Curation, Etl)}

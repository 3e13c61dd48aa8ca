"""Workload ``paper_dag``: the paper's own workload, built through the CLI.

The 27 SQL models, 4 seed CSVs and the project file are a frozen copy under
``perfbench/project``; set-up copies them next to the five raw tables,
which it generates from the seed. One operation is one
``build --threads <cores>`` into a fresh database: 4 seeds and 27 models,
31 relations. The first build warms the process up in set-up, so the
cold path a CLI user pays on a first invocation is part of ``setup_s``: on
4 cores it takes about 25 s, twice as long as the second build. A
10-second window then times one build, the second in the process; a third
would run about a tenth faster. The cli, sql_models, registry and
materialize layers do the work; no headline query runs. Two
regex-classification models dominate a build.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
PROJECT = os.path.join(HERE, "project")
RUN_DATE = dt.date(2025, 8, 31)
#: Card transactions: the engine's reference fixture size. A build's time
#: at this size is mostly fixed cost.
N_TXN = 600
RELATIONS = 31
#: Spot-checked against the engine's DataFrame-first DAG: the classifier,
#: one spend grain and one metrics grain.
CHECKED = ("classified_card_transactions", "spend_monthly", "metrics_monthly")


class Workload:
    WARM_GROUPS = 1
    MIN_GROUPS = 1
    BUILD_SPANS = ("cli.load_project", "registry.compile")

    def __init__(self, run) -> None:
        self.run = run
        self.project = None
        self.builds = 0
        self.db_bytes: list[int] = []
        self.last: dict = {}

    def make_inputs(self, dest: str) -> None:
        proj = os.path.join(dest, "project")
        shutil.copytree(PROJECT, proj)
        inputs.dag_sources(os.path.join(proj, "data"), os.path.join(proj, "seeds"),
                           self.run.seed, N_TXN)

    def use_inputs(self, path: str) -> None:
        self.project = os.path.join(path, "project")

    def prepare(self) -> None:
        pass

    def group(self):
        yield "build", self._build

    def _build(self) -> dict:
        from dbt_analytics_spark.cli import main

        db = f"build{self.builds}"
        self.builds += 1
        rc = main(
            ["build", "--project-dir", self.project, "--database", db,
             "--run-date", str(RUN_DATE), "--threads", str(self.run.threads)],
            spark=self.run.spark,
        )
        with open(os.path.join(self.project, "target", "run_results.json")) as f:
            results = json.load(f)["results"]
        self.last = {"db": db, "rc": rc, "results": results}
        return self.last

    def check_op(self, name: str, out: dict) -> str | None:
        files, size = self.run.stored(self._db_dir(out["db"]))
        self.db_bytes.append(size)
        bad = {r["unique_id"]: r["status"] for r in out["results"] if r["status"] != "success"}
        if out["rc"] != 0 or bad or len(out["results"]) != RELATIONS:
            return f"rc={out['rc']}, {len(out['results'])} nodes, not successful: {bad}"
        return None

    def _db_dir(self, db: str) -> str:
        return os.path.join(self.run.dir, "warehouse", f"{db}.db")

    def hook(self, tracer) -> None:
        from dbt_analytics_spark import cli
        from dbt_analytics_spark.plans import layout_catalog, materialize, registry, sql_models

        tracer.wrap(cli, "load_project", "cli.load_project")
        tracer.wrap(sql_models, "render", "sql_models.render")
        tracer.wrap(registry.Project, "compile", "registry.compile")
        tracer.wrap(registry.Project, "run", "registry.run")
        tracer.wrap(materialize, "materialize", "materialize")
        tracer.wrap(layout_catalog, "route_source", "layout_catalog.route_source",
                    hit=lambda r: r is not None)

    def annotate(self, c: dict, spans: list) -> None:
        files, size = self.run.stored(self._db_dir(self.last["db"]))
        c["materialize_files"], c["materialize_bytes"] = files, size
        busy = sum(r["execution_time"] for r in self.last["results"])
        runs = [sp for sp in spans if sp.name == "registry.run"]
        wall = sum(sp.end - sp.start for sp in runs)
        capacity = self.run.threads * wall
        c["idle_ratio"] = max(capacity - busy, 0.0) / capacity if capacity else 0.0
        c["node_s"] = {r["unique_id"]: r["execution_time"] for r in self.last["results"]}

    def check_run(self) -> tuple[int, int]:
        """Diff three relations of the last build against the engine's
        DataFrame-first DAG on the same raw tables, once per run."""
        from dbt_analytics_spark.workload import build_project

        from adhoc import canonical_hash

        spark = self.run.spark
        sources = {
            t: spark.read.parquet(os.path.join(self.project, "data", t))
            for t in ("card_transactions", "exercise_log", "recipe_log",
                      "shopping_log", "weights")
        }
        p = build_project(spark, sources, run_date=RUN_DATE)
        # the spend rollup reads the classifier: compute that once
        classified = p.compile_node(CHECKED[0]).persist()
        checked = {}
        for name in CHECKED:
            got = spark.table(f"{self.last['db']}.{name}").toPandas()
            want = p.compile_node(name).toPandas()
            checked[name] = len(got) > 0 and canonical_hash(got) == canonical_hash(want)
            if not checked[name]:
                self.run.fail(f"{name}: differs from the DataFrame DAG (or is empty)")
        classified.unpersist()
        self.run.sidecar["oracle"] = checked
        return len(checked), sum(not v for v in checked.values())

    def stored_bytes(self) -> int:
        import statistics

        return int(statistics.median(self.db_bytes)) if self.db_bytes else 0

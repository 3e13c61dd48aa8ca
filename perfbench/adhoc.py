"""Workload ``adhoc``: headline queries in a warm session, closed loop,
one client.

One operation is one query: its registered builder, then ``count()``. A
group is one pass over ``QUERIES`` in an order the seed shuffles anew for
each pass. The inputs are TPC-H-shaped tables at about sf0.01, except that
``lineitem`` holds 2.5 M rows (about 34 MB of parquet), above the engine's
32 MB routing gate, while ``orders`` stays far below it. Routing is
therefore exercised and bypassed in the same pass: q1 answers from its
derived rollup (built in set-up), while j1, w3, q13 and g1 check their
orders-gated routes and fall through to the raw plan. The other queries
are small enough that the fixed per-query path (builder, py4j, planning,
job scheduling) dominates their latency.

``QUERIES`` is 9 of the 19 ``bench.py`` headline queries: the routed and
routable ones, regex, exact and near-duplicate dedup, and the IVF search
with its eager centroid jobs and Arrow boundary. The full set's cold pass
alone takes about 30 s on 4 cores, which the benchmark's time budget
cannot hold in every run; the bucketed twins (j1b, w3b, q13b) and q1b
would also need their layouts built in every run's set-up.
"""

from __future__ import annotations

import hashlib
import os

import inputs

#: Pinned here so that an engine change cannot change what is measured.
QUERIES = (
    "q1_pricing_summary", "j1_join_agg", "w3_pct_of_total", "q13_custdist",
    "g1_date_spine",
    "j3b_regex_lateral_top1", "dd1_exact_dedup", "dd3_minhash_lsh",
    "sim3_ivf_topk",
)
LINEITEM_ROWS = 2_500_000
ROUTES = ("maybe_q1_rollup", "maybe_lineitem_layout", "maybe_star_layout",
          "maybe_nation_rollup", "maybe_custdist_rollup", "maybe_monthly_rollup")


def canonical_hash(pdf) -> str:
    """Order-insensitive hash of a result: columns by name, values as
    canonical strings (floats to 17 significant digits), rows sorted."""
    import datetime
    import decimal
    import math

    def canon(x) -> str:
        if x is None or (isinstance(x, float) and math.isnan(x)):
            return "null"
        if isinstance(x, bool):
            return str(x)
        if isinstance(x, (float, decimal.Decimal)):
            return f"{float(x):.17g}"
        if isinstance(x, datetime.datetime):
            return x.date().isoformat() if x.time() == datetime.time() else x.isoformat()
        if hasattr(x, "isoformat"):
            return x.isoformat()
        if hasattr(x, "tolist"):
            x = x.tolist()
        if isinstance(x, (list, tuple)):
            return "[" + ",".join(canon(v) for v in x) + "]"
        return str(x)

    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(canon(v) for v in row)
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    )
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


class Workload:
    WARM_GROUPS = 3
    MIN_GROUPS = 5
    BUILD_SPANS = ("queries.build",)

    def __init__(self, run) -> None:
        from dbt_analytics_spark.queries import REGISTRY

        self.run = run
        self.registry = REGISTRY
        self.sf_dir = None
        self.rows: dict[str, int] = {}

    def make_inputs(self, dest: str) -> None:
        inputs.star_tables(dest, self.run.seed, LINEITEM_ROWS)

    def use_inputs(self, path: str) -> None:
        self.sf_dir = path

    def prepare(self) -> None:
        """Build the derived relation a warehouse would already hold: the
        q1 rollup that q1 routes to."""
        from dbt_analytics_spark.plans import star_layout

        star_layout.ensure_q1_rollup(self.run.spark, self.sf_dir)

    def group(self):
        order = list(QUERIES)
        self.run.rng.shuffle(order)
        spark, sf = self.run.spark, self.sf_dir
        for name in order:
            builder = self.registry[name][0]
            yield name, (lambda b=builder: self._op(b, spark, sf))

    def _op(self, builder, spark, sf) -> int:
        tracer = self.run.tracer
        if tracer is not None and tracer.op_id is not None:
            with tracer.span("queries.build"):
                df = builder(spark, sf)
            with tracer.span("action"):
                return df.count()
        return builder(spark, sf).count()

    def check_op(self, name: str, rows: int) -> str | None:
        first = self.rows.setdefault(name, rows)
        if rows != first:
            return f"row count {rows} differs from the first pass's {first}"
        if rows == 0:
            return "empty result"
        return None

    def hook(self, tracer) -> None:
        from dbt_analytics_spark.plans import layout_catalog, star_layout

        for fn in ROUTES:
            tracer.wrap(star_layout, fn, f"star_layout.{fn}", hit=lambda r: r is not None)
        tracer.wrap(layout_catalog, "route_source", "layout_catalog.route_source",
                    hit=lambda r: r is not None)

    def annotate(self, c: dict, spans: list) -> None:
        """Coverage of the query's wall by its layers: builder, then the
        final action's Catalyst phases and execution (its listener-reported
        duration, which includes optimization and planning)."""
        if c["action_list"]:
            _name, duration, phases = c["action_list"][-1]
            c["coverage"] = (c["build_s"] + duration + phases.get("analysis", 0.0)) / c["wall_s"]

    def check_run(self) -> tuple[int, int]:
        """Hash-compare every oracled query against DuckDB on the same
        parquet, once per run and untimed."""
        import duckdb

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.sf_dir)):
                if f.endswith(".parquet"):
                    con.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.sf_dir, f)}')"
                    )
            checked = {}
            for name in QUERIES:
                builder, sql = self.registry[name]
                if sql is None:
                    continue
                try:
                    got = canonical_hash(builder(self.run.spark, self.sf_dir).toPandas())
                    want = canonical_hash(con.execute(sql).fetch_df())
                except Exception as exc:  # counted as a wrong output
                    got, want = repr(exc), None
                checked[name] = got == want
                if got != want:
                    self.run.fail(f"{name}: result differs from the DuckDB oracle ({got})")
            self.run.sidecar["oracle"] = checked
            self.run.sidecar["rows"] = self.rows
            return len(checked), sum(not v for v in checked.values())
        finally:
            con.close()

    def stored_bytes(self) -> int:
        return self.run.stored(os.path.join(self.run.dir, "warehouse"))[1]

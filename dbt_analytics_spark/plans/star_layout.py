"""Engine-owned derived relations: layouts and rollups over the sources.

Every derived relation the engine keeps beside a data directory — the
bucketed star pair, the cents-enriched lineitem layout, the q1 / nation /
custdist / monthly grain rollups and the Z-ordered orders table — is one
declarative :class:`DerivedRelation` in :data:`RELATIONS`, served by ONE
implementation of each step:

- :func:`ensure` builds it once (or verifies and reuses it);
- :func:`route` answers "may a query read it now?" and never builds;
- :func:`refresh` folds an append-only source delta, else rebuilds.

The star layout itself: the measured residual on the fact⋈dim-then-
tiny-agg shape (j1/w3; reference: models/metrics_monthly.sql:57-59
customer⋈nation⋈region spend rollup) is the per-query join setup — ~1.0 s
of driver-side broadcast build, or an orders-side shuffle, at sf10, while
DuckDB pipelines a shared-memory build+probe (BENCH_NOTES round-7
session-2 decomposition). The layout answer, measured at 0.73 s with ZERO
exchanges, is to pay one bucketed write up front and join co-located
forever: Hive-style ``bucketBy(n, key).sortBy(key)`` on BOTH sides of the
join key, the same write path the E2 materializer exposes via
``bucket_by=``/``n_buckets=`` (plans/materialize.py) and pins green in
tests/test_engine.py::test_bucketed_tables_join_without_shuffle. The
one-time layout cost (9.4 s at sf10) amortizes across every later join,
and unlike a broadcast dim there is no driver memory ceiling.

Cross-session reuse: managed-table METADATA lives in the session's
in-memory catalog, but the FILES persist in the warehouse dir beside a
sidecar spec (``LAYOUT_SIDECAR``). A fresh process re-registers verified
files as an external table (``CREATE TABLE … LOCATION``, plus
``CLUSTERED BY`` for bucketed relations — Spark derives bucket ids from
the file names, so the re-registered table joins exchange-free exactly
like the original) and pays zero rebuild.

Safety contract, shared by every relation: the sidecar embeds the source
file listing (plans/fingerprint.py), recomputed per call, so a stale
relation is never reused or routed; reuse needs ``_SUCCESS``; the sidecar
is written LAST on a build and flipped to a PENDING marker during a
delta fold, so a crash at any point degrades to a rebuild.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_testdata
from .fingerprint import (
    digest,
    dir_is_complete,
    files_listing,
    read_sidecar,
    write_sidecar,
)

#: Bucket count for the local[32] bench layout; at cluster scale this
#: tracks total cores (and, like any layout choice, is part of the
#: table's physical contract — both join sides must agree).
N_BUCKETS = 32

#: Physical-layout versions, PER TABLE: bump one when its stored
#: schema/derivation changes so stale warehouse files are never
#: re-registered under the new contract. At the 100 TB north star a dim
#: schema change must never force a rewrite of the fact.
#:
#: Orders: v2 added o_cents; v3 switched the codec to zstd (measured at
#: sf10, fresh rewrites same session: scan+agg 0.43 s zstd vs 0.52 s
#: snappy vs 0.46 s uncompressed, j1b 0.60/0.73/0.67 s, and the smallest
#: files — 196M vs 274M/409M); v4 added the routing sidecar fields
#: (covers/source_columns/covers_paths, plans/layout_catalog.py).
#: Custmap: v4 added n_nationkey — the r12 stage decomposition
#: (BENCH_J1B_STAGES_r12) measured the fact-join residual as STRING
#: PAYLOAD carried through the hash-join probe (keys-only join 2.0 s at
#: 240M rows vs 8.9 s carrying n_name/r_name), so join-heavy rollups
#: prune to the int key and attach names to the tiny post-agg frame; v5
#: carries ALL customer columns (c_nationkey, c_acctbal) so
#: ``SELECT <customer columns> FROM custmap`` is schema- and
#: row-identical to the raw customer scan. Z-order v2 added the
#: source_listing field (incremental refresh's diff basis).
ORDERS_VERSION = 4
CUSTMAP_VERSION = 5
LINEITEM_VERSION = 1
Q1_ROLLUP_VERSION = 1
NATION_ROLLUP_VERSION = 1
CUSTDIST_ROLLUP_VERSION = 1
MONTHLY_ROLLUP_VERSION = 1
ZORDER_VERSION = 2

#: Layout-time parquet codec (see the orders v3 note).
LAYOUT_CODEC = "zstd"

#: Sidecar file name for layout specs (see plans/fingerprint.py): the
#: DURABLE copy of a layout table's contract (version, bucketing, source
#: fingerprint), written beside the data files so a later session can
#: VERIFY before re-registering or routing — underscore-prefixed, so
#: every parquet reader treats it as hidden.
LAYOUT_SIDECAR = "_dbt_layout_spec.json"

#: Table the last :func:`route` call resolved to, or None — every route
#: call resets it (observability + tests; the join-side twin of
#: SemanticLayer.last_rollup_used).
last_route_used: str | None = None

#: Fact-size floor for AD-HOC routing: below this on-disk size of a
#: relation's gate table the raw broadcast-probe plan is already
#: scheduler-floor-bound and the derived path's fixed costs LOSE
#: (measured: sf0.1 = 2.7 MB, raw j1 0.215 s vs routed 0.336 s; sf10 =
#: 176 MB, raw 1.24 s vs routed 0.98 s and 1.6-1.8x vs 6.4x data-bound at
#: 240M+). It also keeps the driver's small-SF correctness gate on the
#: raw arithmetic. Read live on every call: tests pin it to 0 to
#: exercise routing at toy scale.
ROUTE_MIN_FACT_BYTES = 32 << 20


def _tag(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return re.sub(r"[^A-Za-z0-9]", "_", base).lower()


def _schema_ddl(df: DataFrame) -> str:
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )


def _warehouse_path(spark: SparkSession, table: str = "") -> str:
    """Managed location of ``table``: ``<wh>/<table>``, or
    ``<wh>/<db>.db/<table>`` for ``db.table`` outside the default
    database. ``""`` is the warehouse dir, ``"db."`` the database's."""
    wh = re.sub(r"^file:", "", spark.conf.get("spark.sql.warehouse.dir"))
    db, _, tbl = table.lower().rpartition(".")
    if db and db != "default":
        wh = os.path.join(wh, f"{db}.db")
    return os.path.join(wh, tbl)


# ---------------------------------------------------------------------------
# Derivations (shared by full builds and delta folds: a fold runs the same
# function over the appended files only)
# ---------------------------------------------------------------------------


def _derive_orders(orders: DataFrame) -> DataFrame:
    """Identity-plus-enrichment over orders. o_cents: the money column
    pre-cast to EXACT integer cents at layout time. o_totalprice is a
    2-decimal value, so decimal(18,2)*100 is exact, long sums are exact,
    and sum(o_cents)/100 reproduces the decimal-cast sum bit-for-bit —
    while the per-row decimal cast and 128-bit decimal accumulation leave
    the scan hot path (measured at sf10: 0.62 s cents-long join+agg vs
    0.87 s decimal, and the decimal cast alone costs ~0.2 s of the
    15M-row scan)."""
    return orders.withColumn(
        "o_cents",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
    )


def _derive_custmap(
    customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """The customer dim FLATTENED through its nation/region snowflake
    (broadcast joins at build time; dims are tiny relative to the fact):
    snowflake hops are paid once at layout time, never per query. ALL
    customer columns first (the substitution contract), then the
    enrichment. The hops are inner joins, so this relation carries the
    row-parity proof (:func:`_prove_row_parity`)."""
    return (
        customer.join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(*customer.columns, "n_nationkey", "n_name", "r_name")
    )


def _derive_lineitem(li: DataFrame) -> DataFrame:
    """Identity-plus-enrichment over lineitem: the three exact integer
    money columns q1's rollup needs, computed ONCE at layout time via
    decimal casts (exact for 2-decimal inputs by construction — no
    floor-cast recovery, no 2^45 exactness bound on the routed path).
    The r13 decomposition (BENCH_Q1_DECOMP_r13) measured the per-row
    cents recovery + guard as q1's residual above the scan floor
    (shipped 2.3-2.9x vs DuckDB at 60M); storing the cents moves that
    cost to the one-time layout build, the same trade o_cents makes for
    the star fact. A wrapped per-row product at absurd magnitudes would
    go negative and trip the query-time min>=0 proof."""
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "long"
    )
    disc_h = (
        (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)") * 100
    ).cast("long")
    tax_h = ((F.lit(1) + F.col("l_tax")).cast("decimal(8,2)") * 100).cast(
        "long"
    )
    return (
        li.withColumn("l_cents", cents)
        .withColumn("l_disc_i4", F.col("l_cents") * disc_h)
        .withColumn("l_charge_i6", F.col("l_disc_i4") * tax_h)
    )


def _q1_rollup_frame(li: DataFrame) -> DataFrame:
    """The 6-row partial-aggregate frame at q1's output grain
    (l_returnflag, l_linestatus), from a cents-enriched lineitem frame
    (_derive_lineitem). Every stored column is a RE-FOLDABLE partial —
    sums, count, max-of-greatest, min-of-least — so an append-only
    refresh aggregates only the delta files and merges partials, and
    the read-time overflow proof still holds on folded values (count
    and max fold exactly; count*max <= 2^63 bounds the true sum, so a
    wrapped stored sum is impossible whenever the proof passes)."""
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("l_cents").alias("s2"),
        F.sum("l_disc_i4").alias("s4"),
        F.sum("l_charge_i6").alias("s6"),
        F.count(F.lit(1)).alias("n"),
        F.max(
            F.greatest("l_cents", "l_disc_i4", "l_charge_i6")
        ).alias("mx"),
        F.min(F.least("l_cents", "l_disc_i4", "l_charge_i6")).alias("mn"),
    )


def _nation_rollup_frame(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """The 25-row partial-aggregate frame at the j1/w3 output grain
    (c_nationkey) over orders⋈customer — the star-join twin of
    ``_q1_rollup_frame`` (round 15: the fact-join family j1 6.9x / w3
    4.8x at sf10 was the last >2x count-series class). Count, exact-cents
    long sum, max and min all re-fold, so ``guarded_cents_spend``'s
    count*max overflow proof still holds on folded values.
    Nation/region NAMES are never stored: they attach live at read time
    (25-row broadcast), so a dim edit can't stale the rollup."""
    cust_nk = customer.select("c_custkey", "c_nationkey")
    return (
        _derive_orders(orders)
        .join(F.broadcast(cust_nk), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_cents").alias("cents"),
            F.max("o_cents").alias("mx"),
            F.min("o_cents").alias("mn"),
        )
    )


def _percust_frame(orders: DataFrame) -> DataFrame:
    """q13's foldable BASE: one row per ordering customer with their
    order count (sum-foldable across appends)."""
    return orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )


def _custdist_from_base(base: DataFrame, n_customers: int) -> DataFrame:
    """The ~40-row q13 histogram from the per-customer base: counts >0
    from the base, the zero bucket from ``n_customers`` minus base rows.
    NOT partial-foldable itself (an append moves customers between
    buckets) — always derived from the base, which IS foldable."""
    hist = base.groupBy(F.col("n_orders").alias("c_count")).agg(
        F.count(F.lit(1)).alias("custdist")
    )
    zero = base.sparkSession.createDataFrame(
        [(0, n_customers)], "c_count long, custdist long"
    ).join(
        base.agg(F.count(F.lit(1)).alias("__nz")), how="cross"
    ).select(
        "c_count", (F.col("custdist") - F.col("__nz")).alias("custdist")
    )
    # drop an empty zero bucket: the oracle's GROUP BY never emits a
    # c_count with no customers
    return hist.unionByName(zero).filter(F.col("custdist") > 0)


def _monthly_rollup_frame(orders: DataFrame) -> DataFrame:
    """The ~80-row partial-aggregate frame at g1's monthly grain
    (date_trunc('month', o_orderdate)) — round 16: g1's remaining exec
    cost was the 15M-row monthly aggregate, 0.79 s at sf10 vs a sub-0.1 s
    ~80-row read. Count, exact-cents sum, max and min all re-fold. A
    NULL o_orderdate forms a NULL month row: it folds like any group and
    the routed g1 drops it exactly as the raw plan does (sequence(NULL,
    ..) explodes to zero rows)."""
    from ..functions.pg import date_trunc_pg

    return (
        _derive_orders(orders)
        .groupBy(date_trunc_pg("month", "o_orderdate").alias("month_start"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_cents").alias("cents"),
            F.max("o_cents").alias("mx"),
            F.min("o_cents").alias("mn"),
        )
    )


def nation_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 25-row ``(n_nationkey, n_name, r_name)`` frame, for attaching
    names AFTER an int-key aggregation (see the custmap v4 note: name
    strings never ride the 100 TB fact-join probe — they broadcast-join
    the post-agg frame, which is output-grain-sized by construction)."""
    t = load_testdata(spark, sf_dir)
    return (
        t["nation"]
        .join(
            F.broadcast(t["region"]),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name", "r_name")
    )


# ---------------------------------------------------------------------------
# The spec and its registry
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Fold:
    """Partial aggregates re-folded on ``key``: stored and delta rows are
    unioned and merged with ``{column: "sum" | "max" | "min"}``. Columns
    are listed in the build frame's order (the merged rows are written
    back under the stored schema)."""

    key: tuple[str, ...]
    aggs: dict[str, str]


@dataclass(frozen=True)
class DerivedRelation:
    """One engine-owned derived relation.

    ``sources[0]`` is the COVERED table: the only source whose
    append-only growth folds as a delta (growth anywhere else shifts
    derived rows: rebuild). ``build`` maps the source frames (keyed by
    table name) to the stored frame; a fold calls it with ``sources[0]``
    replaced by the appended files. ``fold`` is ``"append"`` for per-row
    layouts, a :class:`Fold` for grain rollups, or ``"custdist"`` for
    q13's base-plus-histogram pair."""

    stem: str
    version: int
    sources: tuple[str, ...]
    build: Callable[[dict[str, DataFrame]], DataFrame]
    #: route only while this table's on-disk size reaches
    #: ROUTE_MIN_FACT_BYTES; the sidecar's ``group`` is ``<group>_<tag>``
    gate: str | None = None
    group: str | None = None
    #: identity-plus-enrichment over sources[0]: the sidecar declares
    #: ``covers``/``source_columns`` so plans/layout_catalog.py may swap
    #: this table in for a raw scan of that relation in ANY plan
    substitutes: bool = False
    bucket_col: str | None = None
    zorder_cols: tuple[str, ...] = ()
    fold: str | Fold = "append"
    #: fixed schema DDL instead of one derived from ``build``
    schema: str | None = None
    #: the build must keep sources[0]'s row count (inner snowflake hops:
    #: a dangling FK would drop rows) — checked on build and on each fold
    row_parity: bool = False


_PERCUST_FOLD = Fold(("custkey",), {"n_orders": "sum"})

STAR_ORDERS = DerivedRelation(
    "star_orders", ORDERS_VERSION, ("orders",),
    lambda t: _derive_orders(t["orders"]),
    gate="orders", group="star", substitutes=True, bucket_col="o_custkey",
)
STAR_CUSTMAP = DerivedRelation(
    "star_custmap", CUSTMAP_VERSION, ("customer", "nation", "region"),
    lambda t: _derive_custmap(t["customer"], t["nation"], t["region"]),
    gate="orders", group="star", substitutes=True, bucket_col="c_custkey",
    row_parity=True,
)
#: No bucketing: q1's rollup is a pure scan + 6-group aggregate, so the
#: layout's value is the stored exact money columns, not co-location.
LINEITEM = DerivedRelation(
    "li_cents", LINEITEM_VERSION, ("lineitem",),
    lambda t: _derive_lineitem(t["lineitem"]),
    gate="lineitem", group="li", substitutes=True,
)
#: q1's whole aggregation as 6 rows of partials: the routed q1 is a
#: 6-row read + guards instead of a 60M-row scan.
Q1_ROLLUP = DerivedRelation(
    "q1_rollup", Q1_ROLLUP_VERSION, ("lineitem",),
    lambda t: _q1_rollup_frame(_derive_lineitem(t["lineitem"])),
    gate="lineitem", group="li",
    fold=Fold(("l_returnflag", "l_linestatus"), {
        "sum_qty": "sum", "s2": "sum", "s4": "sum", "s6": "sum",
        "n": "sum", "mx": "max", "mn": "min",
    }),
)
#: j1/w3 as a 25-row read + live name attach instead of a fact join;
#: only ORDERS growth folds (a customer change moves rows between
#: nations).
NATION_ROLLUP = DerivedRelation(
    "star_rollup", NATION_ROLLUP_VERSION, ("orders", "customer"),
    lambda t: _nation_rollup_frame(t["orders"], t["customer"]),
    gate="orders", group="star",
    fold=Fold(("c_nationkey",), {
        "n_orders": "sum", "cents": "sum", "mx": "max", "mn": "min",
    }),
)
#: q13 as a ~40-row read + sort. The stored table is the histogram; the
#: build frame is its foldable per-customer base (``base_table``). The
#: DDL literals are the sidecar contract this relation has always
#: recorded.
CUSTDIST_ROLLUP = DerivedRelation(
    "custdist_rollup", CUSTDIST_ROLLUP_VERSION, ("orders", "customer"),
    lambda t: _percust_frame(t["orders"]),
    gate="orders", group="star", fold="custdist",
    schema="c_count BIGINT, custdist BIGINT",
)
_PERCUST_DDL = "custkey BIGINT, n_orders BIGINT"
#: g1 as an ~80-row read + spine gap-fill instead of a scan+aggregate.
MONTHLY_ROLLUP = DerivedRelation(
    "monthly_rollup", MONTHLY_ROLLUP_VERSION, ("orders",),
    lambda t: _monthly_rollup_frame(t["orders"]),
    gate="orders", group="star",
    fold=Fold(("month_start",), {
        "cnt": "sum", "cents": "sum", "mx": "max", "mn": "min",
    }),
)
#: Orders clustered along the Morton curve of (o_custkey, o_orderdate)
#: (operators/zorder.py) so box predicates on either or both columns
#: prune at row-group granularity. Each delta batch is Morton-clustered
#: within itself; global clustering degrades gracefully as deltas
#: accumulate (compact or rebuild on a schedule, the lakehouse OPTIMIZE
#: discipline). Read directly by zo1, never routed.
ZORDER = DerivedRelation(
    "zord_orders", ZORDER_VERSION, ("orders",), lambda t: t["orders"],
    zorder_cols=("o_custkey", "o_orderdate"),
)

RELATIONS = (
    STAR_ORDERS, STAR_CUSTMAP, LINEITEM, Q1_ROLLUP,
    NATION_ROLLUP, CUSTDIST_ROLLUP, MONTHLY_ROLLUP, ZORDER,
)
STAR = (STAR_ORDERS, STAR_CUSTMAP)

#: CLI ``layout --kind`` name -> (the kind's own relations, relations
#: provisioned in the same pass). One star pass also builds the
#: nation/custdist/monthly rollups, so one warmup covers the family.
KINDS = {
    "star": (STAR, (NATION_ROLLUP, CUSTDIST_ROLLUP, MONTHLY_ROLLUP)),
    "zorder": ((ZORDER,), ()),
    "lineitem": ((LINEITEM,), ()),
    "q1-rollup": ((Q1_ROLLUP,), ()),
}


# ---------------------------------------------------------------------------
# The shared steps
# ---------------------------------------------------------------------------

#: (applicationId, sf_dir, table) -> (source fingerprint, schema DDL,
#: covered relation's columns). Deriving the DDL analyzes the build plan
#: (a ~100 ms driver RPC for a join+agg, BENCH_J1B_STAGES_r16) and routing
#: re-verifies per query, so the analysis runs once per source listing;
#: a changed listing (a rewrite) re-derives from the CURRENT files, so a
#: rebuild never records a stale schema.
_SCHEMAS: dict[tuple[str, str, str], tuple[str, str, list[str]]] = {}


def _rel_tag(rel: DerivedRelation, sf_dir: str, n_buckets: int) -> str:
    return _tag(sf_dir) + (f"_b{n_buckets}" if rel.bucket_col else "")


def _table(rel: DerivedRelation, sf_dir: str, n_buckets: int) -> str:
    return f"{rel.stem}_{_rel_tag(rel, sf_dir, n_buckets)}_v{rel.version}"


def _spec_for(
    rel: DerivedRelation,
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = N_BUCKETS,
) -> dict:
    """The sidecar contract of ``rel`` over ``sf_dir``'s CURRENT files.
    The source listing is recomputed per call (pure os.stat), so
    staleness is caught per query; reuse and routing require the stored
    sidecar to equal this dict exactly."""
    root = os.path.abspath(sf_dir)
    paths = [os.path.join(root, f"{s}.parquet") for s in rel.sources]
    listing = files_listing(paths)
    fp = digest(listing)
    tag = _rel_tag(rel, sf_dir, n_buckets)
    table = f"{rel.stem}_{tag}_v{rel.version}"
    key = (spark.sparkContext.applicationId, root, table)
    if _SCHEMAS.get(key, ("",))[0] != fp:
        t = load_testdata(spark, sf_dir)
        _SCHEMAS[key] = (
            fp,
            rel.schema or _schema_ddl(rel.build(t)),
            list(t[rel.sources[0]].columns),
        )
    _, schema, columns = _SCHEMAS[key]
    spec = {
        "table": table,
        "version": rel.version,
        "codec": LAYOUT_CODEC,
        "schema": schema,
        "source_fp": fp,
        # the full path|size|mtime listing behind source_fp: refresh
        # diffs old vs new to find the appended delta
        "source_listing": listing,
        "covers_paths": paths[:1],
        "source_paths": paths,
    }
    if rel.bucket_col:
        spec.update(bucket_col=rel.bucket_col, n_buckets=n_buckets)
    if rel.zorder_cols:
        spec["zorder_cols"] = list(rel.zorder_cols)
    if rel.substitutes:
        spec.update(covers=rel.sources[0], source_columns=columns)
    if rel.gate:
        spec.update(
            route_gate_paths=[os.path.join(root, f"{rel.gate}.parquet")],
            group=f"{rel.group}_{tag}",
        )
    if rel.fold == "custdist":
        spec.update(
            base_table=f"percust_rollup_{tag}_v{rel.version}",
            base_schema=_PERCUST_DDL,
        )
    return spec


def _register(spark: SparkSession, spec: dict) -> bool:
    """Verify-and-register: True when ``spec``'s table(s) are usable in
    this session — already in the catalog, or complete persisted files
    (``_SUCCESS``) re-registered as an external table. A crashed partial
    write (no ``_SUCCESS``) is never registered; a ``db.table`` spec
    re-creates its database when needed. ``CLUSTERED BY`` is
    added only for bucketed specs (bucket ids ride in the file names, so
    the exchange-free join is preserved)."""
    tables = [(spec["table"], spec["schema"])]
    if "base_table" in spec:
        tables.append((spec["base_table"], spec["base_schema"]))
    col = spec.get("bucket_col")
    clustered = (
        f"CLUSTERED BY ({col}) SORTED BY ({col}) "
        f"INTO {spec['n_buckets']} BUCKETS "
        if col
        else ""
    )
    for table, schema in tables:
        if spark.catalog.tableExists(table):
            continue
        path = _warehouse_path(spark, table)
        if not dir_is_complete(path):
            return False
        db = table.rpartition(".")[0]
        if db:  # a db.table rollup's files outlive its in-memory database
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        spark.sql(
            f"CREATE TABLE {table} ({schema}) USING parquet "
            f"{clustered}LOCATION '{path}'"
        )
    return True


def _fresh(spark: SparkSession, spec: dict) -> bool:
    """The one freshness check: the stored sidecar equals ``spec`` — the
    contract over the CURRENT sources, so an absent, stale, pending or
    different contract fails — and its table(s) register (a crashed
    partial write does not)."""
    path = _warehouse_path(spark, spec["table"])
    return read_sidecar(path, LAYOUT_SIDECAR) == spec and _register(
        spark, spec
    )


def route(
    rel: DerivedRelation,
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = N_BUCKETS,
) -> str | None:
    """Layout/aggregate awareness for AD-HOC queries: ``rel``'s table
    name when it exists and verifiably derives from the CURRENT source
    files (re-registering persisted files when only the in-memory
    catalog entry died with a previous session), else None.

    NEVER builds: an ad-hoc query must not pay the one-time cost; it
    falls back to its raw plan silently. The fact-size gate is checked
    FIRST, before any listing or spec work; every other check is
    metadata-only (one listing per source table, one sidecar read)."""
    global last_route_used
    last_route_used = None
    from ..sources.readers import table_disk_bytes

    try:
        if rel.gate and (
            table_disk_bytes(sf_dir, rel.gate) < ROUTE_MIN_FACT_BYTES
        ):
            return None
        spec = _spec_for(rel, spark, sf_dir, n_buckets)
    except Exception:
        return None  # source tables unreadable: nothing to route to
    if not _fresh(spark, spec):
        return None
    last_route_used = spec["table"]
    return spec["table"]


def _seal(spark: SparkSession, spec: dict) -> None:
    try:
        path = _warehouse_path(spark, spec["table"])
        write_sidecar(path, spec, LAYOUT_SIDECAR)
    except OSError:
        pass  # non-local warehouse: same-session reuse still works


def _save(
    spark: SparkSession, rel: DerivedRelation, n_buckets: int,
    df: DataFrame, table: str, mode: str = "overwrite",
) -> None:
    """The one layout write: Z-ordered and/or bucketed per the relation,
    grain rollups as a single file. Overwrites go through the engine's
    heal+retry CTAS path (a stale or partial leftover dir blocks
    saveAsTable with LOCATION_ALREADY_EXISTS and is removed by the
    age-gated orphan heal instead of failing forever)."""
    from ..operators.zorder import zorder_dataframe
    from .materialize import _save_as_table

    if rel.zorder_cols:
        df = zorder_dataframe(df, list(rel.zorder_cols))
    if isinstance(rel.fold, Fold):
        df = df.coalesce(1)
    w = df.write
    if rel.bucket_col:
        w = w.bucketBy(n_buckets, rel.bucket_col).sortBy(rel.bucket_col)
    w = w.option("compression", LAYOUT_CODEC).mode(mode)
    if mode == "append":
        w.saveAsTable(table)
    else:
        _save_as_table(spark, w, table)


def ensure_spec(
    spark: SparkSession,
    spec: dict,
    write: Callable[[], None],
    reuse: bool = True,
) -> None:
    """The build core, over a spec dict in hand: reuse ``spec``'s table
    when it is :func:`_fresh` (and ``reuse``), else drop it, ``write()``
    it and seal the sidecar LAST — a crash before the seal leaves no
    matching sidecar, so it degrades to a rebuild."""
    if reuse and _fresh(spark, spec):
        return
    if spark.catalog.tableExists(spec["table"]):
        spark.sql(f"DROP TABLE {spec['table']}")  # not this contract
    write()
    _seal(spark, spec)


def ensure(
    rel: DerivedRelation,
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = N_BUCKETS,
) -> str:
    """Materialize ``rel`` once for ``sf_dir`` and return its table name
    (or ``"refused (...)"`` when a custdist parity proof refuses the
    build). Idempotent: reuse is gated on the sidecar spec — including
    the source-file fingerprint — and on ``_SUCCESS``, so a rewritten
    source or a crashed partial write forces a rebuild instead of
    silently serving stale or incomplete rows. Build frames are only
    constructed past the reuse check (the verified-reuse path is what
    j1b/w3b/q13b pay per query)."""
    spec = _spec_for(rel, spark, sf_dir, n_buckets)
    save = partial(_save, spark, rel, n_buckets)
    build = partial(_build, rel, spark, sf_dir, spec, save)
    try:
        ensure_spec(spark, spec, build)
    except RollupParityRefused as e:
        return f"refused ({e})"
    return spec["table"]


def _build(
    rel: DerivedRelation, spark: SparkSession, sf_dir: str, spec: dict, save
) -> None:
    t = load_testdata(spark, sf_dir)
    df = rel.build(t)
    if rel.fold == "custdist":
        customer = t["customer"]
        _write_custdist_pair(spark, spec, df, customer.count(), customer, save)
        return
    save(df, spec["table"])
    if rel.row_parity:
        _prove_row_parity(spark, spec["table"], t[rel.sources[0]])


def _prove_row_parity(spark: SparkSession, tbl: str, src: DataFrame) -> None:
    """Row-parity proof for the substitution contract
    (layout_catalog.py): custmap's snowflake hops are INNER joins, so a
    dangling c_nationkey/n_regionkey would drop customer rows and a
    routed ``SELECT ... FROM custmap`` would silently lose them.
    Machine-check count parity (one metadata-cheap count each; builds
    are one-time) and refuse the layout — drop the table and raise —
    rather than ship a lossy substitute. Every from-scratch build runs
    it, including a refresh's rebuild fallback."""
    built_n, src_n = spark.table(tbl).count(), src.count()
    if built_n != src_n:
        spark.sql(f"DROP TABLE {tbl}")
        raise ValueError(
            f"star layout {tbl}: row-parity proof failed "
            f"({built_n} layout rows vs {src_n} source rows — "
            "dangling FK in the snowflake); layout refused"
        )


class RollupParityRefused(ValueError):
    """A rollup build/refresh found source rows that violate the parity
    assumptions of the routed shape (e.g. orders custkeys dangling
    outside customer). Unlike custmap's dangling-FK case — where the
    SOURCE data is broken and every inner-join consumer is lossy — this
    data is legal for the raw query, so the build drops the pair and
    reports refusal instead of crashing provisioning; routing falls
    back to the (correct) raw plan."""


def _swap(spark: SparkSession, table: str, df: DataFrame, save) -> None:
    """Overwrite ``table`` with ``df`` — a plan that may read ``table``
    itself — without collecting rows to the driver: stage the frame on
    the executors, then swap it in."""
    stg = f"{table}_stg"
    spark.sql(f"DROP TABLE IF EXISTS {stg}")
    save(df, stg)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    save(spark.table(stg), table)
    spark.sql(f"DROP TABLE {stg}")


def _write_custdist_pair(
    spark: SparkSession,
    spec: dict,
    base_df: DataFrame,
    n_customers: int | None,
    customer: DataFrame,
    save,
) -> None:
    """Write base + derived histogram; the caller seals the sidecar (on
    the HIST table, the routed one) LAST, so a crash mid-pair leaves no
    matching sidecar and the router refuses. ``n_customers`` None →
    recovered from the old histogram's invariant total (refresh path,
    customer fingerprint unchanged).

    Parity proof (the row-parity precedent): the base counts ALL orders
    per o_custkey, but raw q13 and the oracle attach counts via a
    customer LEFT JOIN — an orders row whose o_custkey is absent from
    customer (dangling FK; the append guard only proves customer
    UNCHANGED, not that delta orders reference it) would make the
    routed histogram count phantom custkeys and corrupt the zero
    bucket. Machine-check base-keys ⊆ customer-keys with one anti-join
    (customer-cardinality; builds/refreshes are one-time) and refuse
    the pair rather than ship a silently-divergent substitute."""
    base_tbl, hist_tbl = spec["base_table"], spec["table"]
    if n_customers is None:
        n_customers = (
            spark.table(hist_tbl).agg(F.sum("custdist")).collect()[0][0]
        )
    spark.sql(f"DROP TABLE IF EXISTS {hist_tbl}")
    # the refresh merge plan READS the old base table
    _swap(spark, base_tbl, base_df, save)
    dangling = (
        spark.table(base_tbl)
        .join(
            customer.select(F.col("c_custkey").alias("custkey")),
            "custkey",
            "left_anti",
        )
        .count()
    )
    if dangling:
        spark.sql(f"DROP TABLE {base_tbl}")
        raise RollupParityRefused(
            f"custdist rollup {hist_tbl}: parity proof failed "
            f"({dangling} base custkeys dangle outside customer — "
            "orders references unknown customers); rollup refused"
        )
    hist = _custdist_from_base(spark.table(base_tbl), int(n_customers))
    save(hist.coalesce(1), hist_tbl)


def _append_only_delta(old: dict | None, new: dict) -> list[str] | None:
    """The appended delta files when ``new``'s sources GREW from
    ``old``'s by files under ``covers_paths`` only — else None (caller
    falls back to a full rebuild). Append-only means: every old listing
    entry present and unchanged in the new listing (same path, size,
    mtime), and every NEW entry a well-formed file entry under a covered
    path (a grown nation/region in custmap's snowflake changes derived
    rows everywhere — only a grown covered source is delta-foldable; an
    empty ``covers_paths`` folds nothing). A pending marker from a
    crashed fold never folds."""
    if old is None or old.get("pending"):
        return None
    static_keys = set(new) - {"source_fp", "source_listing"}
    if {k: old.get(k) for k in static_keys} != {
        k: new[k] for k in static_keys
    }:
        return None
    old_listing = old.get("source_listing")
    if not old_listing:
        return None  # pre-listing sidecar: no diff basis
    old_set, new_set = set(old_listing), set(new["source_listing"])
    if not old_set <= new_set:
        return None  # something changed or vanished: rebuild
    covered = [os.path.abspath(p) for p in new["covers_paths"]]
    delta: list[str] = []
    for entry in sorted(new_set - old_set):
        path = entry.split("|", 1)[0]
        if "|" not in entry or entry.startswith("missing:"):
            return None  # un-stat-able entry: no safe diff
        if not any(
            path == c or path.startswith(c + os.sep) for c in covered
        ):
            return None  # a non-covered source grew: derived rows shift
        delta.append(path)
    return delta if delta else None


def _read_like_engine(spark: SparkSession, files: list[str]) -> DataFrame:
    """Read specific parquet files with the SAME normalization the
    engine's source reader applies (sources/readers.py): TIMESTAMP_NTZ
    columns cast to TIMESTAMP under the pinned-UTC session, so a delta
    frame appends cleanly to a table built from load_testdata frames."""
    from pyspark.sql import types as T

    df = spark.read.parquet(*files)
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def _merge(stored: DataFrame, delta: DataFrame, fold: Fold) -> DataFrame:
    """Stored and delta partials re-folded, under the stored schema (a
    re-summed decimal would otherwise widen)."""
    merged = (
        stored.unionByName(delta)
        .groupBy(*fold.key)
        .agg(*(getattr(F, fn)(c).alias(c) for c, fn in fold.aggs.items()))
    )
    return merged.select(
        *(F.col(f.name).cast(f.dataType) for f in stored.schema)
    )


def refresh_spec(
    spark: SparkSession,
    spec: dict,
    fold: str | Fold | Callable[[DataFrame], None],
    derive: Callable[[list[str]], DataFrame | None],
    save,
) -> str | None:
    """The refresh core, over a spec dict in hand: ``"fresh"`` when
    :func:`_fresh`; ``"refreshed (+N files)"`` when the sources grew
    append-only (:func:`_append_only_delta`) and ``derive(files)`` turned
    the delta files into rows to fold (None refuses); else None, and the
    caller rebuilds. ``fold`` is ``"append"`` (add the rows as files), a
    :class:`Fold` (merge with the stored partials, staged and swapped on
    the executors) or a callable that writes the rows itself.

    Crash safety: the sidecar is flipped to a PENDING marker before the
    write and finalized after, so routing (exact spec match) never
    serves a half-written table, and a crash degrades to a rebuild,
    never to silent duplicates."""
    if _fresh(spark, spec):
        return "fresh"
    tbl = spec["table"]
    path = _warehouse_path(spark, tbl)
    old = read_sidecar(path, LAYOUT_SIDECAR)
    delta = _append_only_delta(old, spec)
    if delta is None or not _register(spark, old):
        return None
    rows = derive(delta)
    if rows is None:
        return None
    try:
        write_sidecar(path, {**old, "pending": True}, LAYOUT_SIDECAR)
        if isinstance(fold, Fold):
            _swap(spark, tbl, _merge(spark.table(tbl), rows, fold), save)
        elif fold == "append":
            save(rows, tbl, "append")
        else:
            fold(rows)
        write_sidecar(path, spec, LAYOUT_SIDECAR)
    except OSError:
        return None  # sidecar unwritable: rebuild
    return f"refreshed (+{len(delta)} files)"


def refresh(
    rel: DerivedRelation,
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = N_BUCKETS,
) -> str:
    """Incremental refresh of ``rel`` (:func:`refresh_spec`; semantic
    rollups share the same core): an APPEND-ONLY growth of the covered
    source folds only the delta files instead of paying the full rebuild
    (155.8 s at 240M rows, BENCH_SCANFLOOR_r13; the fold scales with the
    delta). Returns ``fresh``, ``refreshed (+N files)``, ``rebuilt`` or
    a custdist ``refused (...)``.

    The delta runs through the SAME derivation as a full build, then per
    fold rule: per-row layouts append it as extra files (bucket ids are
    hash-stable across jobs, so bucket joins stay exchange-free); grain
    rollups merge delta partials with the stored rows; custdist folds
    its per-customer base and re-derives the histogram. Anything else
    (rewritten files, grown non-covered sources, contract drift, a
    pending marker) rebuilds. Each fold adds files; compact
    (operators/compaction.py) or rebuild on a schedule, the same
    discipline lakehouse OPTIMIZE applies."""
    from ..sources import readers

    # the reader cache pins the file listing seen at first load; a
    # refresh exists precisely because that listing changed
    readers._CACHE.pop(
        (spark.sparkContext.applicationId, os.path.abspath(sf_dir)), None
    )
    spec = _spec_for(rel, spark, sf_dir, n_buckets)
    save = partial(_save, spark, rel, n_buckets)

    def derive(delta: list[str]) -> DataFrame | None:
        src = _read_like_engine(spark, delta)
        t = load_testdata(spark, sf_dir)
        rows = rel.build({**t, rel.sources[0]: src})
        # delta row-parity (same contract as the build): a dangling FK
        # in the delta would silently drop rows
        if rel.row_parity and rows.count() != src.count():
            return None
        return rows

    def custdist(rows: DataFrame) -> None:
        base = _merge(spark.table(spec["base_table"]), rows, _PERCUST_FOLD)
        customer = load_testdata(spark, sf_dir)["customer"]
        _write_custdist_pair(spark, spec, base, None, customer, save)

    fold = custdist if rel.fold == "custdist" else rel.fold
    try:
        status = refresh_spec(spark, spec, fold, derive, save)
    except RollupParityRefused as e:
        return f"refused ({e})"
    if status:
        return status
    status = ensure(rel, spark, sf_dir, n_buckets)
    return status if status.startswith("refused") else "rebuilt"


# ---------------------------------------------------------------------------
# Kinds and the public per-relation names
# ---------------------------------------------------------------------------


def ensure_kind(
    kind: str, spark: SparkSession, sf_dir: str, n_buckets: int = N_BUCKETS
):
    """Ensure every relation of a ``layout --kind``; returns the kind's
    own table name, or the ``(orders, custmap)`` pair for ``star``."""
    own, riders = KINDS[kind]
    names = [ensure(r, spark, sf_dir, n_buckets) for r in own + riders]
    return tuple(names[: len(own)]) if len(own) > 1 else names[0]


def refresh_kind(
    kind: str, spark: SparkSession, sf_dir: str, n_buckets: int = N_BUCKETS
):
    """Refresh every relation of a ``layout --kind``; returns the status,
    or ``{table: status}`` for a kind of several relations."""
    own, riders = KINDS[kind]
    out = {
        _table(r, sf_dir, n_buckets): refresh(r, spark, sf_dir, n_buckets)
        for r in own + riders
    }
    return out if len(out) > 1 else next(iter(out.values()))


def maybe_star_layout(
    spark: SparkSession, sf_dir: str, n_buckets: int = N_BUCKETS
) -> tuple[str, str] | None:
    """``(orders_tbl, custmap_tbl)`` when BOTH star tables route, else
    None — the join-side analogue of rollup routing: the ad-hoc j1/w3/
    q13 inherit the exchange-free plan instead of paying the per-query
    broadcast/shuffle."""
    names = []
    for rel in STAR:
        names.append(route(rel, spark, sf_dir, n_buckets))
        if names[-1] is None:
            return None
    return tuple(names)


ensure_star_layout = partial(ensure_kind, "star")
refresh_star_layout = partial(refresh_kind, "star")
ensure_lineitem_layout = partial(ensure, LINEITEM)
maybe_lineitem_layout = partial(route, LINEITEM)
refresh_lineitem_layout = partial(refresh, LINEITEM)
ensure_q1_rollup = partial(ensure, Q1_ROLLUP)
maybe_q1_rollup = partial(route, Q1_ROLLUP)
refresh_q1_rollup = partial(refresh, Q1_ROLLUP)
ensure_nation_rollup = partial(ensure, NATION_ROLLUP)
maybe_nation_rollup = partial(route, NATION_ROLLUP)
refresh_nation_rollup = partial(refresh, NATION_ROLLUP)
ensure_custdist_rollup = partial(ensure, CUSTDIST_ROLLUP)
maybe_custdist_rollup = partial(route, CUSTDIST_ROLLUP)
refresh_custdist_rollup = partial(refresh, CUSTDIST_ROLLUP)
ensure_monthly_rollup = partial(ensure, MONTHLY_ROLLUP)
maybe_monthly_rollup = partial(route, MONTHLY_ROLLUP)
refresh_monthly_rollup = partial(refresh, MONTHLY_ROLLUP)
ensure_zorder_layout = partial(ensure, ZORDER)
refresh_zorder_layout = partial(refresh, ZORDER)


#: Largest value a LongType sum can hold before wrapping (non-ANSI Spark
#: wraps silently past 2^63 - 1).
LONG_MAX = (1 << 63) - 1


def guarded_cents_spend(n, cents, mx, mn):
    """Exact dollar spend from a LONG cents sum, provably overflow-safe.

    The layout path sums ``o_cents`` as LongType because 128-bit decimal
    accumulation is the measured scan-floor term (sf10, min-of-5
    interleaved: long sum 0.818 s, decimal-before-sum 0.965 s = +18%,
    this guard 0.842 s = +3%). Non-ANSI Spark wraps a long sum silently
    past 2^63; at the 100 TB north star a hot group sits within ~10x of
    that. The guard is a conservative proof, not a heuristic: a group's
    sum of NON-NEGATIVE cents is <= count * max, both of which the
    aggregate already (nearly) computes, so ``count * max <= LONG_MAX``
    (checked in decimal — that product cannot itself wrap) implies the
    long sum did not overflow. The non-negativity precondition is
    machine-checked, not assumed: ``mn`` (the group's MIN(cents)) must be
    >= 0, because with negative values (refunds/credits) the long sum can
    wrap negatively while count*max stays under the bound. Past either
    bound it raises loudly instead of returning a wrapped number; the
    remedy at that scale is decimal accumulation or a two-level (salted)
    rollup.

    ``n``/``cents``/``mx``/``mn`` are the group's COUNT(*), SUM(cents),
    MAX(cents) and MIN(cents) columns.
    """
    return (
        F.when(
            mn < 0,
            F.raise_error(
                F.lit(
                    "guarded_cents_spend requires non-negative cents "
                    "(min < 0 observed): the count*max overflow proof is "
                    "unsound for signed values; re-aggregate with decimal "
                    "accumulation"
                )
            ).cast("double"),
        )
        .when(
            n.cast("decimal(38,0)") * mx
            > F.lit(LONG_MAX).cast("decimal(38,0)"),
            F.raise_error(
                F.lit(
                    "o_cents long sum may have overflowed (count*max exceeds "
                    "2^63); re-aggregate with decimal accumulation"
                )
            ).cast("double"),
        )
        .otherwise((cents.cast("decimal(38,0)") / F.lit(100)).cast("double"))
    )

"""Engine-layer tests: registry/DAG/materializations/tests/selection/
snapshot/incremental — the SURVEY.md §2b capability surface.

Modeled on dbt's own adapter test pattern (run project → check relations:
SP/dbt/tests/util.py run_dbt / check_relations_equal)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dbt_analytics_spark.plans import Project, accepted_values, not_null, relationships, unique
from dbt_analytics_spark.plans.selection import select_nodes
from dbt_analytics_spark.plans.snapshot import snapshot, unit_test
from dbt_analytics_spark.sources import load_testdata

from .conftest import SF_DIR


@pytest.fixture
def project(spark):
    p = Project(spark, name="t", run_date=dt.date(2025, 8, 31), threads=4)
    data = load_testdata(spark, SF_DIR)
    p.source_table("orders_raw", data["orders"])
    p.source_table("customer_raw", data["customer"])

    @p.model(materialized="ephemeral")
    def orders_clean(ctx):
        return ctx.source("orders_raw").select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("o_totalprice").alias("total_price"),
            "o_orderstatus",
        )

    @p.model(materialized="table", tags=("spend",))
    def cust_spend(ctx):
        return (
            ctx.ref("orders_clean")
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("total_price").alias("spend"),
            )
        )

    @p.model(materialized="view")
    def big_spenders(ctx):
        return ctx.ref("cust_spend").filter(F.col("spend") > 100000)

    @p.model(materialized="table", tags=("spend",))
    def spend_with_names(ctx):
        return ctx.ref("big_spenders").join(
            ctx.source("customer_raw"),
            F.col("o_custkey") == F.col("c_custkey"),
        ).select("o_custkey", "c_name", "n_orders", "spend")

    return p


def test_run_builds_dag_in_order(project, spark):
    results = project.run()
    assert {r.node for r in results} == {"cust_spend", "big_spenders", "spend_with_names"}
    assert all(r.status == "success" for r in results), [(r.node, r.message) for r in results]
    # Edges recorded by ref() during compile:
    assert project.nodes["cust_spend"].depends_on == {"orders_clean"}
    assert project.nodes["spend_with_names"].depends_on == {"big_spenders", "customer_raw"}
    # Materialized table matches an independently-computed answer.
    expected = (
        load_testdata(spark, SF_DIR)["orders"].groupBy("o_custkey").count().count()
    )
    assert spark.table("cust_spend").count() == expected


def test_generic_data_tests(project, spark):
    project.run()
    project.test("cust_spend", "unique", unique("o_custkey"))
    project.test("cust_spend", "not_null", not_null("spend"))
    project.test(
        "spend_with_names",
        "relationships",
        relationships("o_custkey", lambda: spark.table("cust_spend"), "o_custkey"),
    )
    # A deliberately failing test: n_orders not all = 1.
    project.test("cust_spend", "accepted_values_fail", accepted_values("n_orders", [1]))
    # warn_if threshold: failures > 1e9 never warns → success.
    project.test(
        "cust_spend",
        "thresholded",
        accepted_values("n_orders", [1]),
        error_if=lambda n: False,
        warn_if=lambda n: n > 10**9,
    )
    results = {r.node: r.status for r in project.run_tests()}
    assert results["unique__cust_spend"] == "success"
    assert results["not_null__cust_spend"] == "success"
    assert results["relationships__spend_with_names"] == "success"
    assert results["accepted_values_fail__cust_spend"] == "error"
    assert results["thresholded__cust_spend"] == "success"


def test_selection_dsl(project):
    project.compile()
    assert select_nodes(project, "cust_spend") == {"cust_spend"}
    assert select_nodes(project, "tag:spend") == {"cust_spend", "spend_with_names"}
    assert "orders_clean" in select_nodes(project, "+cust_spend")
    assert select_nodes(project, "big_spenders+") >= {"big_spenders", "spend_with_names"}
    assert "cust_spend" not in select_nodes(project, "tag:spend !cust_spend")
    assert select_nodes(project, "cust_*") == {"cust_spend"}
    # Depth-limited graph ops: 1+ reaches only direct parents.
    one_up = select_nodes(project, "1+cust_spend")
    assert "orders_clean" in one_up and "orders_raw" not in one_up
    assert select_nodes(project, "+cust_spend") >= {"orders_raw", "orders_clean", "cust_spend"}
    assert select_nodes(project, "cust_spend+1") == {"cust_spend", "big_spenders"}
    # Comma intersection: spend-tagged AND descendants of cust_spend.
    assert select_nodes(project, "tag:spend,cust_spend+") == {"cust_spend", "spend_with_names"}


def test_selection_long_tail_methods(project, spark):
    """group:/access:/version:/file:/package: (reference
    selector_methods.py:244-586 long tail, VERDICT r14 item 7)."""
    import dbt_analytics_spark.plans.registry as reg

    p = reg.Project(spark, name="tailproj")
    p.source_table("orders_raw", load_testdata(spark, SF_DIR)["orders"])

    @p.model(materialized="view", group="finance", access="private")
    def fin_base(ctx):
        return ctx.source("orders_raw")

    @p.model(materialized="view", version=1, group="finance")
    def rev(ctx):
        return ctx.source("orders_raw")

    @p.model(materialized="view", version=2, latest_version=2, group="finance")  # noqa: F811
    def rev(ctx):  # noqa: F811
        return ctx.source("orders_raw")

    @p.model(materialized="view", version=3, group="finance")  # noqa: F811
    def rev(ctx):  # noqa: F811
        return ctx.source("orders_raw")

    assert select_nodes(p, "group:finance") == {
        "fin_base", "rev_v1", "rev_v2", "rev_v3"
    }
    assert select_nodes(p, "access:private") == {"fin_base"}
    # version: relative to the latest_version pin (2), not max (3)
    assert select_nodes(p, "version:latest") == {"rev_v2"}
    assert select_nodes(p, "version:old") == {"rev_v1"}
    assert select_nodes(p, "version:prerelease") == {"rev_v3"}
    assert "fin_base" in select_nodes(p, "version:none")
    # file: matches the basename of the registered source path
    assert select_nodes(p, "file:test_engine.py") >= {"fin_base"}
    assert select_nodes(p, "file:no_such_file.sql") == set()
    # package: the project is the package; wildcard works
    assert select_nodes(p, "package:tailproj") == set(p.nodes)
    assert select_nodes(p, "package:tail*") == set(p.nodes)
    assert select_nodes(p, "package:other") == set()
    # composes with graph ops and intersection
    assert select_nodes(p, "group:finance,version:latest") == {"rev_v2"}


def test_selection_semantic_model_and_saved_query(project, spark):
    """semantic_model:/saved_query: resolve to the MODEL nodes the
    semantic objects are defined over (saved queries transitively
    through their metrics' measures)."""
    import yaml

    import dbt_analytics_spark.plans.registry as reg
    from dbt_analytics_spark.plans.semantics import SemanticLayer

    p = reg.Project(spark, name="semsel")
    p.source_table("txns_model", load_testdata(spark, SF_DIR)["orders"])
    p.source_table("other_model", load_testdata(spark, SF_DIR)["customer"])
    p.semantic_layer = SemanticLayer(p)
    p.semantic_layer.load(
        yaml.safe_load(
            """
semantic_models:
  - name: txns
    model: ref('txns_model')
    measures:
      - {name: total_amount, agg: sum, expr: o_totalprice}
      - {name: n_txns, agg: count}
metrics:
  - {name: revenue, type: simple, measure: total_amount}
  - {name: txn_count, type: simple, measure: n_txns}
  - name: avg_txn_value
    type: ratio
    type_params: {numerator: revenue, denominator: txn_count}
saved_queries:
  - name: weekly_kpis
    query_params: {metrics: [avg_txn_value]}
"""
        )
    )
    assert select_nodes(p, "semantic_model:txns") == {"txns_model"}
    assert select_nodes(p, "semantic_model:tx*") == {"txns_model"}
    assert select_nodes(p, "semantic_model:nope") == set()
    # saved query resolves through the ratio metric's measure inputs
    assert select_nodes(p, "saved_query:weekly_kpis") == {"txns_model"}
    assert select_nodes(p, "saved_query:none") == set()
    # a project without a semantic layer yields empty, not an error
    assert select_nodes(project, "semantic_model:txns") == set()


def test_failure_skips_descendants(spark):
    p = Project(spark, name="f")

    @p.model()
    def broken(ctx):
        return ctx.spark.sql("select * from nonexistent_table_xyz")

    @p.model()
    def downstream(ctx):
        return ctx.ref("broken").limit(1)

    results = {r.node: r.status for r in p.run()}
    assert results["broken"] == "error"
    assert results["downstream"] == "skipped"


def test_incremental_merge(spark):
    p = Project(spark, name="inc")
    rows_v1 = [(1, "a", 10.0), (2, "b", 20.0)]
    rows_v2 = [(2, "b2", 25.0), (3, "c", 30.0)]
    state = {"rows": rows_v1}

    @p.model(materialized="incremental", unique_key="id", incremental_strategy="merge")
    def inc_table(ctx):
        return ctx.spark.createDataFrame(state["rows"], ["id", "name", "val"])

    p.run(select="inc_table")
    assert spark.table("inc_table").count() == 2

    state["rows"] = rows_v2
    p2 = Project(spark, name="inc")
    p2.nodes = p.nodes
    p2.run(select="inc_table")
    got = {r["id"]: (r["name"], r["val"]) for r in spark.table("inc_table").collect()}
    # id=2 updated (new wins), id=1 kept, id=3 inserted.
    assert got == {1: ("a", 10.0), 2: ("b2", 25.0), 3: ("c", 30.0)}


def test_incremental_append(spark):
    p = Project(spark, name="inc2")
    state = {"rows": [(1, "x")]}

    @p.model(materialized="incremental", incremental_strategy="append", name="append_t")
    def append_t(ctx):
        return ctx.spark.createDataFrame(state["rows"], ["id", "v"])

    p.run(select="append_t")
    state["rows"] = [(2, "y")]
    p.run(select="append_t")
    assert spark.table("append_t").count() == 2


def test_snapshot_scd2_timestamp(spark):
    p = Project(spark, name="snap")
    v1 = spark.createDataFrame(
        [(1, "alice", "2024-01-01 00:00:00"), (2, "bob", "2024-01-01 00:00:00")],
        ["id", "name", "updated_at"],
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    snapshot(p, "people_snap", v1, unique_key="id", strategy="timestamp", updated_at="updated_at")
    t1 = spark.table("people_snap")
    assert t1.count() == 2
    assert t1.filter(F.col("dbt_valid_to").isNull()).count() == 2

    v2 = spark.createDataFrame(
        [(1, "alice2", "2024-02-01 00:00:00"), (2, "bob", "2024-01-01 00:00:00"), (3, "carol", "2024-02-01 00:00:00")],
        ["id", "name", "updated_at"],
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    snapshot(p, "people_snap", v2, unique_key="id", strategy="timestamp", updated_at="updated_at")
    t2 = spark.table("people_snap")
    # id=1: closed old row + new current; id=2 unchanged; id=3 new → 4 rows.
    assert t2.count() == 4
    current = {r["id"]: r["name"] for r in t2.filter(F.col("dbt_valid_to").isNull()).collect()}
    assert current == {1: "alice2", 2: "bob", 3: "carol"}
    closed = t2.filter(F.col("dbt_valid_to").isNotNull()).collect()
    assert len(closed) == 1 and closed[0]["name"] == "alice"


def test_snapshot_check_strategy_and_deletes(spark):
    p = Project(spark, name="snap2")
    v1 = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "val"])
    snapshot(p, "check_snap", v1, unique_key="id", strategy="check", at=dt.datetime(2024, 1, 1))
    v2 = spark.createDataFrame([(1, "x2")], ["id", "val"])  # id=2 hard-deleted
    snapshot(
        p, "check_snap", v2, unique_key="id", strategy="check",
        at=dt.datetime(2024, 2, 1), hard_deletes="invalidate",
    )
    t = spark.table("check_snap")
    current = {r["id"]: r["val"] for r in t.filter(F.col("dbt_valid_to").isNull()).collect()}
    assert current == {1: "x2"}
    assert t.filter((F.col("id") == 2) & F.col("dbt_valid_to").isNotNull()).count() == 1


def test_unit_test_helper(spark):
    actual = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    expected_ok = spark.createDataFrame([(2, "b"), (1, "a")], ["id", "v"])
    passed, _, _ = unit_test(actual, expected_ok)
    assert passed
    expected_bad = spark.createDataFrame([(1, "a"), (2, "DIFFERENT")], ["id", "v"])
    passed, missing, unexpected = unit_test(actual, expected_bad)
    assert not passed
    assert missing.count() == 1 and unexpected.count() == 1


def test_run_results_artifact(project, tmp_path):
    project.run()
    out = tmp_path / "run_results.json"
    project.write_run_results(str(out))
    import json

    payload = json.loads(out.read_text())
    assert payload["metadata"]["project"] == "t"
    assert {r["unique_id"] for r in payload["results"]} >= {"cust_spend"}


def test_manifest_artifact_and_clone(project, tmp_path):
    project.run()
    out = tmp_path / "manifest.json"
    project.write_manifest(str(out))
    import json

    payload = json.loads(out.read_text())
    nodes = payload["nodes"]
    cs = nodes["model.t.cust_spend"]
    assert cs["materialized"] == "table"
    assert cs["depends_on"] == ["orders_clean"]
    assert "spend" in cs["columns"]
    assert nodes["model.t.spend_with_names"]["depends_on"] == [
        "big_spenders",
        "customer_raw",
    ]

    project.clone("cust_spend", "cust_spend_clone")
    cloned = project.spark.table(project.qualified("cust_spend_clone"))
    original = project.read_relation("cust_spend")
    assert cloned.exceptAll(original).count() == 0
    assert original.exceptAll(cloned).count() == 0


def test_incremental_insert_overwrite(spark):
    p = Project(spark, name="inc3")
    state = {"rows": [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0)]}

    @p.model(
        materialized="incremental",
        incremental_strategy="insert_overwrite",
        partition_by=("day",),
        name="part_t",
    )
    def part_t(ctx):
        return ctx.spark.createDataFrame(state["rows"], ["id", "day", "val"])

    p.run(select="part_t")
    assert spark.table("part_t").count() == 2

    # Second run touches only day=2024-01-02: that partition is replaced
    # (id=2 gone, ids 3-4 in), day=2024-01-01 untouched.
    state["rows"] = [(3, "2024-01-02", 25.0), (4, "2024-01-02", 30.0)]
    p2 = Project(spark, name="inc3")
    p2.nodes = p.nodes
    p2.run(select="part_t")
    got = {r["id"]: r["day"] for r in spark.table("part_t").collect()}
    assert got == {1: "2024-01-01", 3: "2024-01-02", 4: "2024-01-02"}


def test_catalog_artifact(project, tmp_path):
    project.run()
    out = tmp_path / "catalog.json"
    project.write_catalog(str(out))
    import json

    payload = json.loads(out.read_text())
    cs = payload["nodes"]["model.t.cust_spend"]
    assert cs["metadata"]["materialized"] == "table"
    assert "spend" in cs["columns"]
    assert cs["columns"]["spend"]["type"]  # storage-level dtype present


def test_unit_test_with_mocked_refs(spark, project):
    # cust_spend against a 3-row fixture for its only ref; real relations
    # never touched.
    given = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0)], ["o_custkey", "total_price"]
    )
    expect = spark.createDataFrame(
        [(1, 2, 15.0), (2, 1, 7.0)], ["o_custkey", "n_orders", "spend"]
    )
    passed, missing, unexpected = project.run_unit_test(
        "cust_spend", given={"orders_clean": given}, expect=expect
    )
    assert passed, (missing.collect(), unexpected.collect())

    # An unmocked ref is an error, not a silent fallback to the warehouse.
    import pytest as _pytest

    with _pytest.raises(KeyError, match="not mocked"):
        project.run_unit_test("cust_spend", given={}, expect=expect)


def test_snapshot_check_null_safe_hash(spark):
    # A value moving between columns — ('a', NULL) → (NULL, 'a') — must be
    # detected as a change. concat_ws silently drops NULLs, so a naive hash
    # gives both versions the same scd_id; the reference compares check
    # columns null-safely (SP/.../snapshots/strategies.sql).
    p = Project(spark, name="snap3")
    v1 = spark.createDataFrame([(1, "a", None)], "id int, c1 string, c2 string")
    snapshot(p, "null_snap", v1, unique_key="id", strategy="check", at=dt.datetime(2024, 1, 1))
    v2 = spark.createDataFrame([(1, None, "a")], "id int, c1 string, c2 string")
    snapshot(p, "null_snap", v2, unique_key="id", strategy="check", at=dt.datetime(2024, 2, 1))
    t = spark.table("null_snap")
    assert t.count() == 2, "null column-swap change was not detected"
    cur = t.filter(F.col("dbt_valid_to").isNull()).collect()
    assert len(cur) == 1 and cur[0]["c1"] is None and cur[0]["c2"] == "a"


def test_view_relation_registered(project, spark):
    # View-materialized nodes must be discoverable via relation_exists /
    # read_relation after a run (a temp view registered under the bare name
    # was invisible to the qualified lookup → silent recompiles downstream).
    project.run()
    assert project.relation_exists("big_spenders")
    df = project.read_relation("big_spenders")
    expected = spark.table("cust_spend").filter(F.col("spend") > 100000).count()
    assert df.count() == expected
    project.clone("big_spenders", "big_spenders_clone")
    assert spark.table("big_spenders_clone").count() == expected


def test_hooks_ordering(spark):
    # pre-hook fires BEFORE the write (relation absent), post-hook after
    # (relation present) — reference: hooks wrap the materialization
    # (SP/.../materializations/hooks.sql:1-35, table.sql:24-27,49).
    p = Project(spark, name="hooks")
    events: list[tuple[str, bool | None]] = []

    def pre(project, node):
        events.append(("pre", project.relation_exists(node.name)))

    def post(project, node):
        events.append(("post", project.relation_exists(node.name)))

    @p.model(pre_hooks=(pre,), post_hooks=(post,), name="hooked_model")
    def hooked_model(ctx):
        events.append(("build", None))
        return ctx.spark.createDataFrame([(1,)], ["x"])

    results = p.run(select="hooked_model")
    assert all(r.status == "success" for r in results)
    # compile() builds once up front; the execution sequence is the suffix.
    assert events[-3:] == [("pre", False), ("build", None), ("post", True)]


def test_show_preview(project, capsys):
    # dbt show: compiled select previewed with LIMIT n
    # (reference: SP/dbt/task/show.py:29-39,127-132).
    project.run()
    project.show("cust_spend", n=3)
    out = capsys.readouterr().out
    assert "o_custkey" in out
    data_rows = [l for l in out.splitlines() if l.startswith("|")]
    assert len(data_rows) == 4  # header + exactly 3 previewed rows


def test_concurrent_insert_overwrite_nodes(spark):
    # Two insert_overwrite nodes in the same DAG wave: the session-global
    # dynamic-overwrite conf flip is serialized under a lock, so neither
    # write can observe the other's mode or clobber the restore.
    p = Project(spark, name="inc4", threads=2)
    state = {
        "t_a": [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)],
        "t_b": [(5, "2024-01-01", 5.0), (6, "2024-01-02", 6.0)],
    }

    for tname in ("t_a", "t_b"):
        def make(tn):
            def fn(ctx):
                return ctx.spark.createDataFrame(state[tn], ["id", "day", "val"])
            return fn
        p.model(
            materialized="incremental",
            incremental_strategy="insert_overwrite",
            partition_by=("day",),
            name=tname,
        )(make(tname))

    p.run()
    state["t_a"] = [(3, "2024-01-02", 3.0)]
    state["t_b"] = [(7, "2024-01-02", 7.0)]
    p2 = Project(spark, name="inc4", threads=2)
    p2.nodes = p.nodes
    results = p2.run()
    assert all(r.status == "success" for r in results), [(r.node, r.message) for r in results]
    got_a = {r["id"] for r in spark.table("t_a").collect()}
    got_b = {r["id"] for r in spark.table("t_b").collect()}
    assert got_a == {1, 3}, got_a  # day=01 kept, day=02 replaced
    assert got_b == {5, 7}, got_b


def test_snapshot_check_hash_not_delimiter_injectable(spark):
    # ('a|b','c') → ('a','b|c') moves the '|' across the column boundary; a
    # '|'-joined check hash gives both versions the same scd_id and misses
    # the change. The structural (to_json) encoding keeps field boundaries.
    p = Project(spark, name="snap4")
    v1 = spark.createDataFrame([(1, "a|b", "c")], "id int, c1 string, c2 string")
    snapshot(p, "inj_snap", v1, unique_key="id", strategy="check", at=dt.datetime(2024, 1, 1))
    v2 = spark.createDataFrame([(1, "a", "b|c")], "id int, c1 string, c2 string")
    snapshot(p, "inj_snap", v2, unique_key="id", strategy="check", at=dt.datetime(2024, 2, 1))
    t = spark.table("inj_snap")
    assert t.count() == 2, "delimiter-shift change was not detected"
    cur = t.filter(F.col("dbt_valid_to").isNull()).collect()
    assert len(cur) == 1 and cur[0]["c1"] == "a" and cur[0]["c2"] == "b|c"


def test_view_check_ignores_unrelated_permanent_table(spark):
    # An unrelated permanent table in the session's current database that
    # happens to share a view node's bare name must NOT satisfy
    # relation_exists for that node: the unqualified probe is restricted to
    # actual temp views (isTemporary), so the project still materializes —
    # and reads — its own view.
    spark.createDataFrame([(999,)], ["decoy"]).write.mode("overwrite").saveAsTable(
        "vfp_view"
    )
    try:
        p = Project(spark, name="vfp", database="vfpdb")

        @p.model(materialized="view", name="vfp_view")
        def vfp_view(ctx):
            return ctx.spark.createDataFrame([(1,), (2,)], ["real_col"])

        p.compile()
        assert not p.relation_exists("vfp_view"), (
            "permanent decoy table mistaken for the project's view"
        )
        p.run()
        assert p.relation_exists("vfp_view")
        assert set(p.read_relation("vfp_view").columns) == {"real_col"}
        assert p.read_relation("vfp_view").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS vfp_view")


def test_selection_method_path(project):
    # Every model in the fixture is defined in this file; path: selects by
    # the registered source path (glob or bare-substring dbt-style).
    project.compile()
    assert select_nodes(project, "path:*test_engine*") >= {
        "cust_spend",
        "big_spenders",
        "spend_with_names",
    }
    assert select_nodes(project, "path:tests") >= {"cust_spend"}  # bare dir
    assert select_nodes(project, "path:*no_such_dir*") == set()


def test_selection_method_config(project):
    project.compile()
    assert select_nodes(project, "config.materialized:view") == {"big_spenders"}
    assert select_nodes(project, "config.materialized:table") == {
        "cust_spend",
        "spend_with_names",
    }
    assert select_nodes(project, "config.kind:source") == {
        "orders_raw",
        "customer_raw",
    }
    # Graph ops compose with methods: children of view-materialized nodes.
    assert select_nodes(project, "config.materialized:view+") == {
        "big_spenders",
        "spend_with_names",
    }


def test_selection_method_state(project, spark, tmp_path):
    import pytest as _pytest

    project.compile()
    manifest = tmp_path / "manifest.json"
    project.write_manifest(str(manifest))

    # Second project: one model changed (different body), one added.
    p2 = Project(spark, name="t", run_date=dt.date(2025, 8, 31))
    data = load_testdata(spark, SF_DIR)
    p2.source_table("orders_raw", data["orders"])
    p2.source_table("customer_raw", data["customer"])

    @p2.model(materialized="ephemeral")
    def orders_clean(ctx):
        return ctx.source("orders_raw").select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("o_totalprice").alias("total_price"),
            "o_orderstatus",
        )

    @p2.model(materialized="table", tags=("spend",))
    def cust_spend(ctx):  # CHANGED: max added
        return (
            ctx.ref("orders_clean")
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("total_price").alias("spend"),
                F.max("total_price").alias("max_order"),
            )
        )

    @p2.model(materialized="table")
    def brand_new(ctx):
        return ctx.ref("cust_spend").limit(5)

    with _pytest.raises(ValueError, match="load_state"):
        select_nodes(p2, "state:modified")

    p2.load_state(str(manifest))
    p2.compile()
    assert select_nodes(p2, "state:new") == {"brand_new"}
    # modified ⊇ new (dbt semantics); unchanged nodes stay out.
    assert select_nodes(p2, "state:modified") == {"cust_spend", "brand_new"}
    # Slim-CI shape: modified and everything downstream.
    assert select_nodes(p2, "state:modified+") == {"cust_spend", "brand_new"}


def test_selection_method_result(project, spark, tmp_path):
    project.run()

    @project.model(materialized="table")
    def exploding(ctx):
        raise RuntimeError("boom at run time")

    project.run()
    # In-memory last-run statuses back result: without loaded artifacts.
    assert "exploding" in select_nodes(project, "result:error")
    assert select_nodes(project, "result:success") >= {"cust_spend"}

    # And via run_results.json + load_state (the dbt --state retry shape).
    rr = tmp_path / "run_results.json"
    mf = tmp_path / "manifest.json"
    project.write_run_results(str(rr))
    project.write_manifest(str(mf))
    project.load_state(str(mf), run_results_path=str(rr))
    assert select_nodes(project, "result:error") == {"exploding"}


def test_store_failures_persists_violation_rows(project, spark):
    # store_failures materializes the test's violation rows as an auditable
    # relation (reference: SP/dbt/task/test.py:296-325) — exactly the rows,
    # and an empty relation for a passing test.
    project.run()
    project.test(
        "cust_spend",
        "accepted_values_sf",
        accepted_values("n_orders", [1]),
        store_failures=True,
    )
    project.test(
        "cust_spend", "not_null_sf", not_null("spend"), store_failures=True
    )
    results = {r.node: r for r in project.run_tests()}

    bad = results["accepted_values_sf__cust_spend"]
    assert bad.status == "error"
    assert "accepted_values_sf__cust_spend__failures" in bad.message
    stored = spark.table("accepted_values_sf__cust_spend__failures")
    # accepted_values violations are distinct value groups (the dbt macro's
    # group-by shape), so that's what must be stored.
    expected = (
        spark.table("cust_spend")
        .groupBy(F.col("n_orders").alias("value_field"))
        .agg(F.count(F.lit(1)).alias("n_records"))
        .filter(~F.col("value_field").isin([1]))
    )
    assert stored.count() == bad.rows == expected.count() > 0
    assert stored.exceptAll(expected).count() == 0
    assert expected.exceptAll(stored).count() == 0

    ok = results["not_null_sf__cust_spend"]
    assert ok.status == "success"
    assert spark.table("not_null_sf__cust_spend__failures").count() == 0


def test_materialized_view_refresh(spark):
    # materialized_view: stored as a table (Spark has no MV object), but with
    # the dbt refresh lifecycle — Project.refresh(name) recomputes the stored
    # definition without running the DAG, picking up new source data.
    spark.createDataFrame([(1, 10.0), (2, 20.0)], ["id", "v"]).write.mode(
        "overwrite"
    ).saveAsTable("mv_src")
    try:
        p = Project(spark, name="mv")
        p.source_table("src", spark.table("mv_src"))

        @p.model(materialized="materialized_view")
        def totals_mv(ctx):
            return ctx.source("src").agg(
                F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
            )

        results = p.run()
        assert all(r.status == "success" for r in results)
        assert spark.table("totals_mv").collect()[0]["n"] == 2

        # New source rows: the MV is stale until refreshed.
        spark.createDataFrame([(3, 30.0)], ["id", "v"]).write.mode(
            "append"
        ).saveAsTable("mv_src")
        assert spark.table("totals_mv").collect()[0]["n"] == 2
        res = p.refresh("totals_mv")
        assert res.status == "success" and res.rows == 1
        row = spark.table("totals_mv").collect()[0]
        assert row["n"] == 3 and row["total"] == 60.0

        # refresh() is MV-only, like the dbt adapter's.
        @p.model(materialized="table")
        def plain_table(ctx):
            return ctx.source("src")

        import pytest as _pytest

        with _pytest.raises(ValueError, match="materialized_view"):
            p.refresh("plain_table")

        # The artifacts carry the MV resource type.
        import json as _json
        import tempfile

        with tempfile.NamedTemporaryFile("r", suffix=".json") as f:
            p.write_manifest(f.name)
            manifest = _json.load(open(f.name))
        assert (
            manifest["nodes"]["model.mv.totals_mv"]["materialized"]
            == "materialized_view"
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS mv_src")


def test_bucketed_tables_join_without_shuffle(spark, project):
    # bucket_by co-locates join keys at WRITE time: two tables bucketed on
    # the same key with the same bucket count must sort-merge-join with NO
    # Exchange on either side — the fact-to-fact join answer when neither
    # side broadcasts. (Broadcast disabled here to expose the SMJ shape.)
    p = Project(spark, name="buck")
    data = load_testdata(spark, SF_DIR)

    @p.model(materialized="table", bucket_by=("o_custkey",), n_buckets=4)
    def orders_bucketed(ctx):
        return data["orders"].select("o_orderkey", "o_custkey", "o_totalprice")

    @p.model(materialized="table", bucket_by=("c_custkey",), n_buckets=4)
    def customer_bucketed(ctx):
        return data["customer"].select("c_custkey", "c_name", "c_acctbal")

    results = p.run()
    assert all(r.status == "success" for r in results)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_bucketed").join(
            spark.table("customer_bucketed"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # And the join answers correctly.
        assert joined.count() == data["orders"].join(
            data["customer"], F.col("o_custkey") == F.col("c_custkey")
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # Misconfiguration guard: bucket_by without n_buckets fails loudly.
    p2 = Project(spark, name="buck2")

    @p2.model(materialized="table", bucket_by=("id",))
    def bad_bucketed(ctx):
        return ctx.spark.createDataFrame([(1,)], ["id"])

    res = {r.node: r for r in p2.run()}
    assert res["bad_bucketed"].status == "error"
    assert "n_buckets" in res["bad_bucketed"].message


def _rerun_incremental(spark, name, v1_rows, v1_schema, v2_rows, v2_schema, **cfg):
    state = {"rows": v1_rows, "schema": v1_schema}
    p = Project(spark, name=f"osc_{name}")

    @p.model(materialized="incremental", name=name, **cfg)
    def inc(ctx):
        return ctx.spark.createDataFrame(state["rows"], state["schema"])

    p.run(select=name)
    state["rows"], state["schema"] = v2_rows, v2_schema
    p2 = Project(spark, name=f"osc_{name}")
    p2.nodes = p.nodes
    return p2.run(select=name)


def test_on_schema_change_policies(spark):
    v1 = ([(1, "a")], "id int, v string")
    v2 = ([(2, "b", 9.5)], "id int, v string, score double")

    # ignore (default): target schema kept, new column dropped.
    _rerun_incremental(spark, "osc_ignore", *v1, *v2,
                       incremental_strategy="append")
    t = spark.table("osc_ignore")
    assert set(t.columns) == {"id", "v"} and t.count() == 2

    # append_new_columns: new column added, old rows NULL-filled.
    _rerun_incremental(spark, "osc_append", *v1, *v2,
                       incremental_strategy="append",
                       on_schema_change="append_new_columns")
    rows = {r["id"]: r for r in spark.table("osc_append").collect()}
    assert set(spark.table("osc_append").columns) == {"id", "v", "score"}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5

    # sync_all_columns: dropped source columns leave the target too.
    v2_drop = ([(2, 9.5)], "id int, score double")
    _rerun_incremental(spark, "osc_sync", *v1, *v2_drop,
                       incremental_strategy="append",
                       on_schema_change="sync_all_columns")
    t = spark.table("osc_sync")
    assert set(t.columns) == {"id", "score"}
    assert {r["id"]: r["score"] for r in t.collect()} == {1: None, 2: 9.5}

    # fail: loud error naming the drift.
    results = _rerun_incremental(spark, "osc_fail", *v1, *v2,
                                 incremental_strategy="append",
                                 on_schema_change="fail")
    res = {r.node: r for r in results}
    assert res["osc_fail"].status == "error"
    assert "score" in res["osc_fail"].message

    # merge strategy aligns too (key collision across schemas).
    v2_merge = ([(1, "a2", 1.5)], "id int, v string, score double")
    _rerun_incremental(spark, "osc_merge", *v1, *v2_merge,
                       incremental_strategy="merge", unique_key="id",
                       on_schema_change="append_new_columns")
    rows = {r["id"]: r for r in spark.table("osc_merge").collect()}
    assert rows[1]["v"] == "a2" and rows[1]["score"] == 1.5


def test_retry_reruns_only_failures(spark):
    p = Project(spark, name="retry")
    calls = []
    state = {"broken": True}

    @p.model()
    def healthy(ctx):
        calls.append("healthy")
        return ctx.spark.createDataFrame([(1,)], ["x"])

    @p.model()
    def flaky(ctx):
        calls.append("flaky")
        if state["broken"]:
            raise RuntimeError("transient failure")
        return ctx.spark.createDataFrame([(2,)], ["y"])

    @p.model()
    def downstream(ctx):
        calls.append("downstream")
        return ctx.ref("flaky").limit(1)

    results = {r.node: r.status for r in p.run()}
    assert results == {"healthy": "success", "flaky": "error", "downstream": "skipped"}

    state["broken"] = False
    # A fresh project (dbt retry is a new invocation) replays only the
    # failures. Dropping healthy's table first proves retry does not
    # re-MATERIALIZE clean nodes (compile still builds every lazy plan).
    spark.sql("DROP TABLE IF EXISTS healthy")
    p2 = Project(spark, name="retry")
    p2.nodes = p.nodes
    p2.results = p.results
    retried = {r.node: r.status for r in p2.retry()}
    assert retried == {"flaky": "success", "downstream": "success"}
    assert not spark.catalog.tableExists("healthy")  # not re-materialized

    assert p2.retry() == []  # clean run → no-op


def test_exposures_lineage_only(project, spark, tmp_path):
    import json as _json

    import pytest as _pytest

    project.exposure(
        "spend_dashboard",
        depends_on=("spend_with_names", "cust_spend"),
        owner="finance",
        url="https://bi.example/spend",
    )
    with _pytest.raises(KeyError, match="unknown nodes"):
        project.exposure("bad", depends_on=("nope",))

    results = project.run()
    # Never materialized, never a run result.
    assert "spend_dashboard" not in {r.node for r in results}
    assert not spark.catalog.tableExists("spend_dashboard")

    # Graph selection builds everything the exposure needs.
    needed = select_nodes(project, "+spend_dashboard")
    assert needed >= {"spend_dashboard", "spend_with_names", "cust_spend", "orders_clean"}

    # Manifest carries the exposure with its lineage.
    out = tmp_path / "manifest.json"
    project.write_manifest(str(out))
    manifest = _json.load(open(out))
    entry = manifest["nodes"]["exposure.t.spend_dashboard"]
    assert entry["resource_type"] == "exposure"
    assert set(entry["depends_on"]) == {"spend_with_names", "cust_spend"}


def test_read_jsonl_with_schema_and_corrupt_records(spark, tmp_path):
    from dbt_analytics_spark.sources.readers import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en"}\n'
        '{"doc_id": 2, "text": "bonjour", "lang": "fr"}\n'
        "this line is not json\n"
        '{"doc_id": 3, "text": null, "lang": "de"}\n'
    )
    df = read_jsonl(spark, str(p), schema="doc_id long, text string, lang string")
    rows = df.collect()
    assert len(rows) == 4
    good = {r["doc_id"]: r["lang"] for r in rows if r["_corrupt_record"] is None}
    assert good == {1: "en", 2: "fr", 3: "de"}
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(bad) == 1 and "not json" in bad[0]["_corrupt_record"]


def test_model_contract_enforced(spark):
    """E21 contracts: a conforming model builds; type drift, missing and
    extra columns, and not-null violations each fail BEFORE the write, and
    a contract change is state:modified."""
    import datetime as dt

    from dbt_analytics_spark.plans.registry import ContractError, enforce_contract

    p = Project(spark, name="ct", run_date=dt.date(2025, 8, 31))
    src = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None)], "id long, name string, amount double"
    )
    p.source_table("raw", src)

    @p.model(
        contract={"id": "bigint not null", "name": "string", "amount": "double"}
    )
    def contracted(ctx):
        return ctx.source("raw")

    results = {r.node: r for r in p.run()}
    assert results["contracted"].status == "success"
    assert spark.table("contracted").count() == 2

    node = p.nodes["contracted"]
    # Matching frame passes straight through.
    enforce_contract(node, src)
    # Type drift.
    with pytest.raises(ContractError, match="declared bigint, got int"):
        enforce_contract(node, src.withColumn("id", F.col("id").cast("int")))
    # Missing column.
    with pytest.raises(ContractError, match="missing column 'amount'"):
        enforce_contract(node, src.drop("amount"))
    # Extra column not in the contract.
    with pytest.raises(ContractError, match="unexpected column 'extra'"):
        enforce_contract(node, src.withColumn("extra", F.lit(1)))
    # Not-null constraint on actual data.
    with pytest.raises(ContractError, match="not-null"):
        enforce_contract(
            node, src.select(F.when(F.col("id") == 1, None).otherwise(F.col("id")).alias("id"), "name", "amount")
        )

    # A failing contract surfaces as a node error and does NOT clobber the
    # previously materialized relation.
    @p.model(name="contracted", contract={"id": "bigint"})
    def contracted_v2(ctx):
        return ctx.source("raw")

    res2 = {r.node: r for r in p.run()}
    assert res2["contracted"].status == "error"
    assert "unexpected column" in res2["contracted"].message
    assert spark.table("contracted").count() == 2  # old relation intact

    # Contract participates in the state:modified fingerprint.
    fp1 = p.nodes["contracted"].config_fingerprint()
    p.nodes["contracted"].contract = {"id": "bigint", "name": "string"}
    assert p.nodes["contracted"].config_fingerprint() != fp1


def test_model_versions_and_access(spark):
    """E22 versions + groups: versioned relations materialize as name_vN,
    unpinned refs take the latest (or the latest_version pin), pinned refs
    take their version, and private models are invisible outside their
    group."""
    import datetime as dt

    from dbt_analytics_spark.plans.registry import ReferenceError_

    p = Project(spark, name="gv", run_date=dt.date(2025, 8, 31))
    src = spark.createDataFrame([(1, 5.0), (2, 7.0)], "id long, amount double")
    p.source_table("raw_gv", src)

    @p.model(name="metric", version=1, group="finance")
    def metric_v1(ctx):
        return ctx.source("raw_gv").select("id", F.col("amount").alias("value"))

    @p.model(name="metric", version=2, latest_version=2, group="finance")
    def metric_v2(ctx):
        return ctx.source("raw_gv").select(
            "id", (F.col("amount") * 2).alias("value")
        )

    @p.model(group="finance", access="private")
    def finance_internal(ctx):
        return ctx.ref("metric", v=1)

    @p.model(group="finance")
    def finance_report(ctx):
        return ctx.ref("finance_internal")  # same group: allowed

    @p.model(group="marketing")
    def pinned_consumer(ctx):
        return ctx.ref("metric", v=1)

    @p.model(group="marketing")
    def latest_consumer(ctx):
        return ctx.ref("metric")

    results = {r.node: r for r in p.run()}
    assert results["metric_v1"].status == "success"
    assert results["metric_v2"].status == "success"
    assert results["finance_report"].status == "success"
    assert spark.table("metric_v1").agg(F.sum("value")).collect()[0][0] == 12.0
    assert spark.table("metric_v2").agg(F.sum("value")).collect()[0][0] == 24.0
    assert spark.table("pinned_consumer").agg(F.sum("value")).collect()[0][0] == 12.0
    assert spark.table("latest_consumer").agg(F.sum("value")).collect()[0][0] == 24.0
    assert p.nodes["latest_consumer"].depends_on == {"metric_v2"}

    # Cross-group ref of a private model fails that node only.
    @p.model(group="marketing")
    def snooper(ctx):
        return ctx.ref("finance_internal")

    res2 = {r.node: r for r in p.run()}
    assert res2["snooper"].status == "error"
    assert "private" in res2["snooper"].message

    # Unknown version / version-pin on an unversioned model are ref errors.
    ctx_errors = []

    @p.model(group="marketing")
    def bad_version(ctx):
        try:
            ctx.ref("metric", v=9)
        except ReferenceError_ as e:
            ctx_errors.append(str(e))
        return ctx.ref("metric")

    p.run()
    assert any("unknown version" in m for m in ctx_errors)

    # latest_version pin can hold consumers BELOW the max version.
    p2 = Project(spark, name="gv2", run_date=dt.date(2025, 8, 31))
    p2.source_table("raw_gv", src)

    @p2.model(name="m2", version=1, latest_version=1)
    def m2_v1(ctx):
        return ctx.source("raw_gv").select("id")

    @p2.model(name="m2", version=2)  # pre-release
    def m2_v2(ctx):
        return ctx.source("raw_gv").select("id", "amount")

    assert p2._resolve_version("m2") == "m2_v1"
    assert p2._resolve_version("m2", 2) == "m2_v2"


def test_docs_site_generation(project, tmp_path):
    # dbt docs generate analogue: self-contained HTML lineage site from the
    # manifest (reference SP/dbt/task/docs/).
    from dbt_analytics_spark.plans.docs_site import write_docs_site

    project.run()
    index = write_docs_site(project, str(tmp_path / "site"))
    html_text = open(index).read()
    # All nodes present as clickable SVG boxes and in the embedded manifest.
    for name in project.nodes:
        assert f'data-name="{name}"' in html_text
    assert "manifest" in html_text and "</svg>" in html_text
    # Edges: one bezier per dependency edge that has a laid-out parent.
    n_edges = sum(len(n.depends_on) for n in project.nodes.values())
    assert html_text.count('class="edge"') == n_edges
    # Artifacts emitted alongside.
    assert (tmp_path / "site" / "manifest.json").exists()
    assert (tmp_path / "site" / "catalog.json").exists()
    # No external asset references — the page must open from bare disk.
    assert "http://" not in html_text.replace("http://www.w3.org", "")
    assert "https://" not in html_text


def _spend_project(spark, database, orders_df, customer_df):
    p = Project(spark, name="t", run_date=dt.date(2025, 8, 31), threads=2,
                database=database)
    p.source_table("orders_raw", orders_df)
    p.source_table("customer_raw", customer_df)

    @p.model(materialized="table")
    def cust_spend(ctx):
        return (
            ctx.source("orders_raw")
            .groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("spend"))
        )

    @p.model(materialized="table")
    def big_spenders(ctx):
        return ctx.ref("cust_spend").filter(F.col("spend") > 0)

    return p


def test_defer_reads_unselected_refs_from_state_env(spark):
    # dbt --defer: build ONLY the selected model in dev; its ref to the
    # unselected, locally-unbuilt cust_spend must resolve to prod's
    # relation. Prod is doctored to 5 customers so reading it is provable
    # (a local recompute would see all customers).
    data = load_testdata(spark, SF_DIR)
    orders, customer = data["orders"], data["customer"]
    five = orders.select("o_custkey").distinct().limit(5)
    prod_orders = orders.join(five, "o_custkey")

    prod = _spend_project(spark, "defer_prod", prod_orders, customer)
    prod.run(select="cust_spend")
    n_prod = spark.table("defer_prod.cust_spend").count()
    assert n_prod == 5

    dev = _spend_project(spark, "defer_dev", orders, customer)
    dev.set_defer("defer_prod")
    results = dev.run(select="big_spenders")
    assert [r.status for r in results] == ["success"]
    # Only the selected model was built in dev...
    assert spark.catalog.tableExists("defer_dev.big_spenders")
    assert not spark.catalog.tableExists("defer_dev.cust_spend")
    # ...and it read prod's 5-customer table, not a local recompute.
    assert spark.table("defer_dev.big_spenders").count() == n_prod

    # favor_state=False (default): once dev HAS a local cust_spend, the
    # local relation wins over prod's.
    dev.run(select="cust_spend")
    n_dev = spark.table("defer_dev.cust_spend").count()
    assert n_dev > n_prod
    dev.run(select="big_spenders")
    assert spark.table("defer_dev.big_spenders").count() == n_dev

    # favor_state=True: prod wins even though dev's relation exists.
    dev.set_defer("defer_prod", favor_state=True)
    dev.run(select="big_spenders")
    assert spark.table("defer_dev.big_spenders").count() == n_prod


def test_build_interleaves_tests_and_gates_descendants(project, spark):
    # dbt build: a model's failing test marks it failed, so its descendants
    # SKIP — bad data never propagates (reference SP/dbt/task/build.py).
    project.test("cust_spend", "always_fails", lambda df: df.limit(1))
    results = project.build()
    by_node = {r.node: r.status for r in results}
    assert by_node["cust_spend"] == "success"          # materialized fine
    assert by_node["always_fails__cust_spend"] == "error"
    assert by_node["big_spenders"] == "skipped"        # gated by the test
    assert by_node["spend_with_names"] == "skipped"
    # Ordering: the test ran immediately after its model, before any
    # descendant was scheduled.
    order = [r.node for r in results]
    assert order.index("always_fails__cust_spend") < order.index("big_spenders")


def test_build_with_passing_tests_runs_everything(project):
    project.test("cust_spend", "not_null_spend", not_null("spend"))
    results = project.build()
    by_node = {r.node: r.status for r in results}
    assert by_node == {
        "cust_spend": "success",
        "not_null_spend__cust_spend": "success",
        "big_spenders": "success",
        "spend_with_names": "success",
    }


def test_list_enumerates_selected_nodes_in_dag_order(project):
    project.compile()
    rows = project.list(select="+spend_with_names")
    names = [r["name"] for r in rows]
    # Topological: every dependency precedes its dependent.
    for r in rows:
        for dep in r["depends_on"]:
            if dep in names:
                assert names.index(dep) < names.index(r["name"])
    assert set(names) >= {"orders_clean", "cust_spend", "big_spenders", "spend_with_names"}
    by_name = {r["name"]: r for r in rows}
    assert by_name["cust_spend"]["materialized"] == "table"
    assert by_name["cust_spend"]["tags"] == ["spend"]
    assert by_name["big_spenders"]["resource_type"] == "model"
    # Selection narrows the listing.
    assert [r["name"] for r in project.list(select="tag:spend")] == [
        "cust_spend", "spend_with_names",
    ]


def test_orc_table_materialization_roundtrip(spark, project):
    # file_format="orc": Spark-native columnar alternative to parquet —
    # the table must round-trip exactly and report ORC as its provider.
    p = project

    @p.model(materialized="table", file_format="orc", name="orc_custs")
    def orc_custs(ctx):
        return ctx.source("customer_raw").select("c_custkey", "c_name")

    res = {r.node: r for r in p.run(select="orc_custs")}
    assert res["orc_custs"].status == "success"
    src = load_testdata(spark, SF_DIR)["customer"].select("c_custkey", "c_name")
    got = spark.table("orc_custs")
    assert got.count() == src.count()
    assert got.exceptAll(src).count() == 0
    provider = {
        r["col_name"]: r["data_type"]
        for r in spark.sql("DESCRIBE EXTENDED orc_custs").collect()
    }.get("Provider", "")
    assert provider.lower() == "orc"


def test_incremental_dedup_insert(spark):
    # dedup_insert: each batch drops (a) within-batch exact text dups,
    # (b) rows whose text already exists in the corpus, (c) near-dups of
    # the corpus (MinHash-LSH cross banding), then appends the survivors.
    base = (
        "the quick brown fox jumps over the lazy dog again and again today "
    ) * 4
    distinct = (
        "completely different content about spark incremental pipelines "
        "and tokenizer training corpora with unique vocabulary terms "
    ) * 4
    near = base.replace("lazy", "sleepy")  # one word changed -> near-dup
    p = Project(spark, name="ddins")
    state = {"rows": [(1, base), (2, distinct)]}

    @p.model(
        materialized="incremental",
        incremental_strategy="dedup_insert",
        unique_key="doc_id",
        dedup_text_col="body",
        dedup_kwargs={"threshold": 0.4},
        name="corpus_t",
    )
    def corpus_t(ctx):
        return ctx.spark.createDataFrame(state["rows"], ["doc_id", "body"])

    p.run(select="corpus_t")
    assert spark.table("corpus_t").count() == 2

    state["rows"] = [
        (3, base),       # exact dup of corpus doc 1 -> dropped
        (4, near),       # near-dup of corpus doc 1 -> dropped by LSH
        (5, distinct + "brand new suffix sentence"),  # near-dup of doc 2 -> dropped
        (6, "entirely fresh subject matter with no overlap whatsoever "
            "covering astronomy telescopes galaxies and spectral lines " * 3),
        (7, "entirely fresh subject matter with no overlap whatsoever "
            "covering astronomy telescopes galaxies and spectral lines " * 3),
        # 6/7 are within-batch exact dups -> lowest key (6) survives
    ]
    p2 = Project(spark, name="ddins")
    p2.nodes = p.nodes
    p2.run(select="corpus_t")
    got = sorted(r["doc_id"] for r in spark.table("corpus_t").collect())
    assert got == [1, 2, 6]
    # The persistent LSH index tracks the corpus: one banded-row set per
    # accepted doc, so the next batch never re-bands the corpus.
    assert spark.catalog.tableExists("corpus_t__lsh_bands")
    idx_docs = {r["doc"] for r in spark.table("corpus_t__lsh_bands").select("doc").distinct().collect()}
    assert idx_docs == {1, 2, 6}

    # Third batch USES the index: a near-dup of doc 6 (indexed via the
    # append path) must be dropped; a fresh doc appends to the index.
    state["rows"] = [
        (8, "entirely fresh subject matter with no overlap whatsoever "
            "covering astronomy telescopes galaxies and spectral rows " * 3),
        (9, "totally novel corpus slice regarding oceanography currents "
            "salinity thermoclines and deep trenches measurements " * 3),
    ]
    p3 = Project(spark, name="ddins")
    p3.nodes = p.nodes
    p3.run(select="corpus_t")
    got = sorted(r["doc_id"] for r in spark.table("corpus_t").collect())
    assert got == [1, 2, 6, 9]  # 8 is a near-dup of indexed doc 6
    idx_docs = {r["doc"] for r in spark.table("corpus_t__lsh_bands").select("doc").distinct().collect()}
    assert idx_docs == {1, 2, 6, 9}
    # fingerprint table mirrors the corpus (one md5 per distinct text)
    assert spark.table("corpus_t__dedup_fps").count() == 4

    # Full refresh rebuilds the corpus AND drops the stale index.
    state["rows"] = [(1, base)]
    p4 = Project(spark, name="ddins", full_refresh=True)
    p4.nodes = p.nodes
    p4.run(select="corpus_t")
    assert spark.table("corpus_t").count() == 1
    assert not spark.catalog.tableExists("corpus_t__lsh_bands")
    assert not spark.catalog.tableExists("corpus_t__dedup_fps")


def test_dedup_insert_companions_commit_after_target(spark, monkeypatch):
    """ADVICE r7 (medium): the fp/LSH companion tables must commit AFTER
    the target write — with the old order a failed target write left the
    batch's fingerprints persisted, so the retry anti-joined every batch
    row away (silent permanent loss). Inject a target-write failure and
    prove the retry still lands the batch."""
    import pyspark.sql.readwriter as _rw

    base = (
        "the quick brown fox jumps over the lazy dog again and again today "
    ) * 4
    fresh = (
        "entirely fresh subject matter with no overlap whatsoever "
        "covering astronomy telescopes galaxies and spectral lines "
    ) * 3
    p = Project(spark, name="ddfail")
    state = {"rows": [(1, base)]}

    @p.model(
        materialized="incremental",
        incremental_strategy="dedup_insert",
        unique_key="doc_id",
        dedup_text_col="body",
        dedup_kwargs={"threshold": 0.4},
        name="corpus_fail_t",
    )
    def corpus_fail_t(ctx):
        return ctx.spark.createDataFrame(state["rows"], ["doc_id", "body"])

    res = {r.node: r for r in p.run(select="corpus_fail_t")}
    assert res["corpus_fail_t"].status == "success"
    # Second run bootstraps the companion tables (first incremental apply).
    state["rows"] = [(2, fresh)]
    p1b = Project(spark, name="ddfail")
    p1b.nodes = p.nodes
    res = {r.node: r for r in p1b.run(select="corpus_fail_t")}
    assert res["corpus_fail_t"].status == "success"
    fp_before = spark.table("corpus_fail_t__dedup_fps").count()
    idx_before = spark.table("corpus_fail_t__lsh_bands").count()

    # Batch 3 arrives; the FINAL target write fails (injected). The
    # staging write (…__dbt_tmp) and companion writes are left alone.
    state["rows"] = [
        (3, "totally novel corpus slice regarding oceanography currents "
            "salinity thermoclines and deep trenches measurements " * 3)
    ]
    orig = _rw.DataFrameWriter.saveAsTable

    def failing(self, name, *a, **kw):
        if name == "corpus_fail_t":
            raise RuntimeError("injected target-write failure")
        return orig(self, name, *a, **kw)

    monkeypatch.setattr(_rw.DataFrameWriter, "saveAsTable", failing)
    p2 = Project(spark, name="ddfail")
    p2.nodes = p.nodes
    res = {r.node: r for r in p2.run(select="corpus_fail_t")}
    assert res["corpus_fail_t"].status == "error"
    monkeypatch.setattr(_rw.DataFrameWriter, "saveAsTable", orig)

    # The failed run must NOT have advanced companion state — that is
    # exactly what made the retry lose the batch under the old order.
    spark.catalog.refreshTable("corpus_fail_t__dedup_fps")
    spark.catalog.refreshTable("corpus_fail_t__lsh_bands")
    assert spark.table("corpus_fail_t__dedup_fps").count() == fp_before
    assert spark.table("corpus_fail_t__lsh_bands").count() == idx_before

    # Retry: the batch lands (old order: silently dropped forever).
    p3 = Project(spark, name="ddfail")
    p3.nodes = p.nodes
    res = {r.node: r for r in p3.run(select="corpus_fail_t")}
    assert res["corpus_fail_t"].status == "success"
    got = sorted(r["doc_id"] for r in spark.table("corpus_fail_t").collect())
    assert got == [1, 2, 3]
    assert spark.table("corpus_fail_t__dedup_fps").count() == 3
    idx_docs = {
        r["doc"]
        for r in spark.table("corpus_fail_t__lsh_bands").select("doc").distinct().collect()
    }
    assert idx_docs == {1, 2, 3}


def test_dedup_insert_heals_crash_between_target_and_companions(spark, monkeypatch):
    """VERDICT r8 (new finding): a crash BETWEEN the target commit and the
    companion commit left companions stale forever — the bootstrap path
    only runs when a companion table is missing, never when it is merely
    behind, so exact/near dups of the crashed batch's rows were admitted
    on every later run. The start-of-run heal appends target-minus-
    companion keys before any companion is read, and the retry id-guard
    keeps the re-emitted batch from double-inserting."""
    import pyspark.sql.readwriter as _rw

    base = (
        "the quick brown fox jumps over the lazy dog again and again today "
    ) * 4
    fresh1 = (
        "entirely fresh subject matter with no overlap whatsoever "
        "covering astronomy telescopes galaxies and spectral lines "
    ) * 3
    ocean = (
        "totally novel corpus slice regarding oceanography currents "
        "salinity thermoclines and deep trenches measurements "
    ) * 3
    p = Project(spark, name="ddheal")
    state = {"rows": [(1, base)]}

    @p.model(
        materialized="incremental",
        incremental_strategy="dedup_insert",
        unique_key="doc_id",
        dedup_text_col="body",
        dedup_kwargs={"threshold": 0.4},
        name="corpus_heal_t",
    )
    def corpus_heal_t(ctx):
        return ctx.spark.createDataFrame(state["rows"], ["doc_id", "body"])

    def rerun(rows):
        state["rows"] = rows
        pn = Project(spark, name="ddheal")
        pn.nodes = p.nodes
        return {r.node: r for r in pn.run(select="corpus_heal_t")}

    assert rerun([(1, base)])["corpus_heal_t"].status == "success"
    # bootstrap companions on the first incremental apply
    assert rerun([(2, fresh1)])["corpus_heal_t"].status == "success"
    assert spark.catalog.tableExists("corpus_heal_t__lsh_bands")

    # Batch 3: the TARGET write commits, then the first companion append
    # (…__lsh_shingles) fails — the exact crash window in question.
    orig = _rw.DataFrameWriter.saveAsTable

    def failing(self, name, *a, **kw):
        if name == "corpus_heal_t__lsh_shingles":
            raise RuntimeError("injected companion-write failure")
        return orig(self, name, *a, **kw)

    monkeypatch.setattr(_rw.DataFrameWriter, "saveAsTable", failing)
    res = rerun([(3, ocean)])
    assert res["corpus_heal_t"].status == "error"
    monkeypatch.setattr(_rw.DataFrameWriter, "saveAsTable", orig)

    # Target holds doc 3; companions do not know it.
    spark.catalog.refreshTable("corpus_heal_t")
    assert sorted(r["doc_id"] for r in spark.table("corpus_heal_t").collect()) == [1, 2, 3]
    idx_docs = {
        r["doc"]
        for r in spark.table("corpus_heal_t__lsh_bands").select("doc").distinct().collect()
    }
    assert idx_docs == {1, 2}

    # Retry of the SAME batch (standard pipeline retry): the id-guard must
    # not double-insert doc 3, and the start-of-run heal must register its
    # fp + bands even though the batch contributes no new survivors.
    res = rerun([(3, ocean)])
    assert res["corpus_heal_t"].status == "success"
    rows = spark.table("corpus_heal_t").collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 3]  # no dup row
    idx_docs = {
        r["doc"]
        for r in spark.table("corpus_heal_t__lsh_bands").select("doc").distinct().collect()
    }
    assert idx_docs == {1, 2, 3}  # healed
    assert spark.table("corpus_heal_t__dedup_fps").count() == 3

    # The healed companions now suppress dups of the crashed batch's rows:
    # an exact dup and a near-dup of doc 3 are dropped; a fresh doc lands.
    fresh2 = (
        "high energy particle physics detectors calorimeters and muon "
        "chambers recording collision events at luminosity frontiers "
    ) * 3
    res = rerun([(4, ocean), (5, ocean.replace("deep", "shallow")), (6, fresh2)])
    assert res["corpus_heal_t"].status == "success"
    assert sorted(r["doc_id"] for r in spark.table("corpus_heal_t").collect()) == [1, 2, 3, 6]


def test_orphan_location_heal_age_gated(spark):
    """A killed session's orphan warehouse directory (catalog entry never
    written) blocks CTAS with LOCATION_ALREADY_EXISTS. The heal must (a)
    refuse a FRESH directory — indistinguishable from another process's
    in-flight CTAS — with an error naming the path and the conf, and (b)
    remove a stale one and retry the write cleanly."""
    import os
    import time as _time

    from dbt_analytics_spark.plans.materialize import (
        _ORPHAN_HEAL_MIN_AGE_CONF,
    )

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    loc = os.path.join(
        warehouse.removeprefix("file:"), "orphan_heal_t"
    )
    spark.sql("DROP TABLE IF EXISTS orphan_heal_t")
    # Fabricate the orphan: directory + a data-ish file, no catalog entry.
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "part-00000.parquet"), "wb") as f:
        f.write(b"not really parquet")

    def build() -> str:
        p = Project(spark, name="orphanheal")

        @p.model(name="orphan_heal_t")
        def orphan_heal_t(ctx):
            return ctx.spark.createDataFrame([(1, "a")], ["id", "v"])

        return {r.node: r for r in p.run()}["orphan_heal_t"]

    # Fresh orphan (mtime = now) → refused, loud, names path + conf.
    res = build()
    assert res.status == "error"
    assert "orphan_heal_t" in (res.message or "")
    assert _ORPHAN_HEAL_MIN_AGE_CONF in (res.message or "")

    # Age the directory past the threshold → healed, run succeeds.
    old = _time.time() - 3600
    for root, dirs, files in os.walk(loc):
        for name in [*files, *dirs]:
            os.utime(os.path.join(root, name), (old, old))
    os.utime(loc, (old, old))
    res = build()
    assert res.status == "success"
    assert spark.table("orphan_heal_t").count() == 1
    spark.sql("DROP TABLE IF EXISTS orphan_heal_t")


def test_selection_test_name_test_type_source_status(project, spark, tmp_path):
    """test_name:/test_type:/source_status: — the last three reference
    selector methods (selector_methods.py TestNameSelectorMethod:573-583,
    TestTypeSelectorMethod:586-607, SourceStatusSelectorMethod:834-886;
    VERDICT r15 item 6). The engine attaches tests to models, so the
    test methods resolve to the OWNING models."""
    import json as _json

    import dbt_analytics_spark.plans.registry as reg

    p = reg.Project(spark, name="tsel")
    p.source_table("orders_raw", load_testdata(spark, SF_DIR)["orders"])
    p.source_table("cust_raw", load_testdata(spark, SF_DIR)["customer"])

    @p.model(materialized="view")
    def tested(ctx):
        return ctx.source("orders_raw")

    @p.model(materialized="view")
    def untested(ctx):
        return ctx.source("orders_raw")

    p.test("tested", "not_null", lambda df: df.filter(F.col("o_orderkey").isNull()))
    p.test("tested", "unique", lambda df: df.limit(0))
    p.yaml_unit_tests = [
        {"name": "ut_check_rows", "model": "untested", "given": [], "expect": []}
    ]

    # test_name: fnmatch over attached generic test names + unit names
    assert select_nodes(p, "test_name:not_null") == {"tested"}
    assert select_nodes(p, "test_name:uni*") == {"tested"}
    assert select_nodes(p, "test_name:ut_check_rows") == {"untested"}
    assert select_nodes(p, "test_name:absent") == set()
    # test_type: generic/schema/data → generic attachments; unit → YAML
    # unit tests; singular is valid-but-empty (engine has none)
    for alias in ("generic", "schema", "data"):
        assert select_nodes(p, f"test_type:{alias}") == {"tested"}
    assert select_nodes(p, "test_type:unit") == {"untested"}
    assert select_nodes(p, "test_type:singular") == set()
    with pytest.raises(ValueError, match="test_type"):
        select_nodes(p, "test_type:bogus")
    # composes with graph ops (edges recorded at compile time)
    p.compile()
    assert select_nodes(p, "+test_name:not_null") >= {"tested", "orders_raw"}

    # source_status:fresher — previous vs current sources.json artifacts
    def _write(path, rows):
        with open(path, "w") as f:
            _json.dump({"results": rows}, f)
        return str(path)

    prev = _write(tmp_path / "prev_sources.json", [
        {"unique_id": "orders_raw", "max_loaded_at": "2025-01-01 00:00:00"},
        {"unique_id": "cust_raw", "max_loaded_at": "2025-06-01 00:00:00"},
    ])
    cur = _write(tmp_path / "cur_sources.json", [
        {"unique_id": "orders_raw", "max_loaded_at": "2025-03-01 00:00:00"},
        {"unique_id": "cust_raw", "max_loaded_at": "2025-06-01 00:00:00"},
        {"unique_id": "not_a_node", "max_loaded_at": "2025-06-01 00:00:00"},
    ])
    # both artifacts are required, dbt-style
    with pytest.raises(ValueError, match="source_status"):
        select_nodes(p, "source_status:fresher")
    manifest = tmp_path / "manifest.json"
    with open(manifest, "w") as f:
        _json.dump({"nodes": {}}, f)
    p.load_state(str(manifest), sources_path=prev, sources_current_path=cur)
    # orders_raw advanced; cust_raw unchanged; unknown ids are dropped
    assert select_nodes(p, "source_status:fresher") == {"orders_raw"}
    # descendants-of-fresher: the practical dbt invocation shape
    assert select_nodes(p, "source_status:fresher+") == {
        "orders_raw", "tested", "untested"
    }
    with pytest.raises(ValueError, match="source_status"):
        select_nodes(p, "source_status:stale")


def test_ephemeral_reused_across_consumers_computes_once(spark):
    """Round 17: an ephemeral consumed by 2+ materialized nodes is
    computed ONCE per run (persisted, then unpersisted at run end) —
    the Spark-native upgrade of dbt's inline-CTE-per-consumer semantics.
    Counted with an accumulator inside the ephemeral's lineage: with
    reuse the second consumer reads the persisted frame, so the UDF
    never re-runs."""
    import datetime as dt

    import pandas as pd

    acc = spark.sparkContext.accumulator(0)

    def _counted(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    def make_project(reuse: bool):
        p = Project(spark, name=f"eph_{int(reuse)}", run_date=dt.date(2026, 1, 1), threads=4)
        p.reuse_ephemeral = reuse
        base = spark.range(0, 1000).select(F.col("id").alias("k"))
        p.source_table("src", base)

        @p.model(materialized="ephemeral")
        def expensive(ctx):
            return ctx.source("src").mapInPandas(_counted, "k long")

        @p.model(materialized="table")
        def left_leg(ctx):
            return ctx.ref("expensive").groupBy().agg(F.sum("k").alias("s"))

        @p.model(materialized="table")
        def right_leg(ctx):
            return ctx.ref("expensive").groupBy().agg(F.count(F.lit(1)).alias("n"))

        return p

    p = make_project(reuse=True)
    acc.value = 0
    statuses = {r.node: r.status for r in p.run()}
    assert set(statuses.values()) == {"success"}, statuses
    reused_count = acc.value
    assert p._ephemeral_reuse == {}  # released at run end
    assert spark.table("left_leg").collect()[0]["s"] == 499500
    assert spark.table("right_leg").collect()[0]["n"] == 1000

    p2 = make_project(reuse=False)
    acc.value = 0
    statuses = {r.node: r.status for r in p2.run()}
    assert set(statuses.values()) == {"success"}, statuses
    literal_count = acc.value

    # dbt-literal semantics recompute the ephemeral per consumer; the
    # reuse path computes it exactly once.
    assert literal_count == 2000
    assert reused_count == 1000


def test_default_driver_memory_fits_the_host():
    """Without SPARK_DRIVER_MEMORY the driver heap is 24g capped at half
    of physical memory, so the local-mode JVM (which also hosts every
    executor thread) cannot outgrow the host."""
    from dbt_analytics_spark.session import default_driver_memory

    with open("/proc/meminfo") as f:
        total_kb = next(
            int(line.split()[1]) for line in f if line.startswith("MemTotal:")
        )
    assert default_driver_memory() == f"{min(24 << 10, total_kb // 2048)}m"

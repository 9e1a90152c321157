"""dbt --defer (refs resolve from a production catalog), the Slim-CI
partner of state:modified, plus ``build()`` and observed runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_repo_spark.plans.runner import ModelRunner, model
from dbt_repo_spark.sources.catalog import Catalog


def _models():
    @model("a", deps=("src",), materialized="table")
    def a(ctx):
        return ctx["src"]

    @model("b", deps=("a",), materialized="table")
    def b(ctx):
        return ctx["a"].withColumn("x2", F.col("x") * 2)

    @model("c", deps=("b",), materialized="table")
    def c(ctx):
        return ctx["b"].withColumn("x4", F.col("x2") * 2)

    return a, b, c


def _runner(spark, root, n=5):
    a, b, c = _models()
    cat = Catalog(spark, str(root))
    src = spark.range(n).withColumnRenamed("id", "x")
    return ModelRunner(spark, cat, {"src": src}).add(a, b, c), cat


def test_defer_reads_unselected_dep_from_prod(spark, tmp_path):
    # prod builds the full chain; a has 5 rows there
    prod, prod_cat = _runner(spark, tmp_path / "prod", n=5)
    prod.run()
    # dev selects only b, deferring to prod — a must NOT build in dev
    # (dev's src would give it 3 rows; prod's a has 5)
    dev, dev_cat = _runner(spark, tmp_path / "dev", n=3)
    built = dev.run(["b"], defer_to=prod_cat)
    assert set(built) == {"b"}
    assert built["b"].count() == 5  # read prod's a, not dev's src
    assert not dev_cat.exists("analytics", "a")
    assert dev_cat.exists("analytics", "b")


def test_defer_favors_locally_selected_models(spark, tmp_path):
    prod, prod_cat = _runner(spark, tmp_path / "prod", n=5)
    prod.run()
    dev, _ = _runner(spark, tmp_path / "dev", n=3)
    # a is selected too -> builds locally from dev's src despite defer
    built = dev.run(["a", "b"], defer_to=prod_cat)
    assert set(built) == {"a", "b"}
    assert built["b"].count() == 3


def test_defer_falls_back_when_prod_lacks_the_model(spark, tmp_path):
    prod, prod_cat = _runner(spark, tmp_path / "prod", n=5)
    prod.run(["a"])  # prod has ONLY a
    dev, _ = _runner(spark, tmp_path / "dev", n=3)
    built = dev.run(["c"], defer_to=prod_cat)
    # b absent from prod -> built locally (reading prod's a); c local
    assert set(built) == {"b", "c"}
    assert built["c"].count() == 5


def test_build_interleaves_tests_and_skips_downstream(spark, tmp_path):
    """dbt build semantics: a failing test on a model skips its
    consumers; siblings still build."""

    @model(
        "a_bad",
        deps=("src",),
        materialized="table",
        tests={"x": ["unique"]},  # src has duplicate x -> FAIL
    )
    def a_bad(ctx):
        return ctx["src"].unionByName(ctx["src"].limit(1))

    @model("b_child", deps=("a_bad",), materialized="table")
    def b_child(ctx):
        return ctx["a_bad"]

    @model("c_grandchild", deps=("b_child",), materialized="table")
    def c_grandchild(ctx):
        return ctx["b_child"]

    @model("e_sibling", deps=("src",), materialized="table")
    def e_sibling(ctx):
        return ctx["src"]

    cat = Catalog(spark, str(tmp_path / "wh"))
    src = spark.range(5).withColumnRenamed("id", "x")
    r = ModelRunner(spark, cat, {"src": src}).add(
        a_bad, b_child, c_grandchild, e_sibling
    )
    built, status = r.build()
    assert status["a_bad"] == "fail"
    assert status["b_child"] == "skipped"
    assert status["c_grandchild"] == "skipped"
    assert status["e_sibling"] == "ok"
    assert "b_child" not in built and "e_sibling" in built


def test_build_tests_a_model_added_before_its_relationships_parent(spark, tmp_path):
    """A relationships test waits for the model it names, even when that
    model was added after the tested one, and counts its orphans: two
    keys (3, 4) of ``child_bad`` are missing from the parent, none of
    ``child_ok``'s."""

    @model("parent", deps=("src",), materialized="table")
    def parent(ctx):
        return ctx["src"].filter(F.col("x") < 3)

    def child(name, n):
        return model(name, deps=("src",), materialized="table",
                     tests={"x": [{"relationships": ("parent", "x")}]})(
            lambda ctx: ctx["src"].filter(F.col("x") < n))

    cat = Catalog(spark, str(tmp_path / "wh"))
    src = spark.range(5).withColumnRenamed("id", "x")
    r = ModelRunner(spark, cat, {"src": src}).add(
        child("child_bad", 5), child("child_ok", 3), parent
    )
    built, status = r.build()
    # scheduled first, so a tested child may wait on it with any number
    # of workers
    assert list(status) == ["parent", "child_bad", "child_ok"]
    assert status == {"parent": "ok", "child_bad": "fail", "child_ok": "ok"}
    assert [t.violations for t in r.test(built)["child_bad"]] == [2]


def test_build_skips_a_relationships_test_whose_model_was_skipped(spark, tmp_path):
    """``fact`` tests its keys against ``dim``, which is skipped because
    its ref ``bad`` fails ``unique``: that one test is skipped and
    ``fact`` still builds and passes, as in dbt."""

    @model("bad", deps=("src",), materialized="table", tests={"x": ["unique"]})
    def bad(ctx):
        return ctx["src"].unionByName(ctx["src"].limit(1))

    @model("dim", deps=("bad",), materialized="table")
    def dim(ctx):
        return ctx["bad"]

    @model("fact", deps=("src",), materialized="table",
           tests={"x": ["not_null", {"relationships": ("dim", "x")}]})
    def fact(ctx):
        return ctx["src"]

    cat = Catalog(spark, str(tmp_path / "wh"))
    src = spark.range(5).withColumnRenamed("id", "x")
    r = ModelRunner(spark, cat, {"src": src}).add(bad, dim, fact)
    built, status = r.build()
    assert status == {"bad": "fail", "dim": "skipped", "fact": "ok"}
    assert set(built) == {"bad", "fact"}
    assert [x.name for x in r.test(built)["fact"]] == ["not_null:x"]


def test_relationships_test_naming_a_descendant_is_no_cycle(spark, tmp_path):
    """A model may test its keys against a model built from it: that
    test orders nothing, so ``run()`` still sorts the DAG."""

    @model("up", deps=("src",), materialized="table",
           tests={"x": [{"relationships": ("down", "x")}]})
    def up(ctx):
        return ctx["src"]

    @model("down", deps=("up",), materialized="table")
    def down(ctx):
        return ctx["up"]

    cat = Catalog(spark, str(tmp_path / "wh"))
    src = spark.range(5).withColumnRenamed("id", "x")
    built = ModelRunner(spark, cat, {"src": src}).add(up, down).run()
    assert list(built) == ["up", "down"] and built["down"].count() == 5


def test_build_reraises_a_failing_builder_after_siblings_settle(spark, tmp_path):
    """A raising builder fails ``build()`` as it fails ``run()``: the
    exception surfaces once the other models settle, its dependents are
    never written, and independent models are."""

    @model("boom", deps=("src",), materialized="table")
    def boom(ctx):
        raise RuntimeError("boom")

    @model("boom_child", deps=("boom",), materialized="table")
    def boom_child(ctx):
        return ctx["boom"]

    @model("sibling", deps=("src",), materialized="table")
    def sibling(ctx):
        return ctx["src"]

    cat = Catalog(spark, str(tmp_path / "wh"))
    src = spark.range(5).withColumnRenamed("id", "x")
    r = ModelRunner(spark, cat, {"src": src}).add(boom, boom_child, sibling)
    with pytest.raises(RuntimeError, match="boom"):
        r.build()
    assert cat.exists("analytics", "sibling")
    assert not cat.exists("analytics", "boom_child")

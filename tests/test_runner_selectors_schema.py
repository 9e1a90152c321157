"""Runner selection and schema rules: graph selectors (``name+``
downstream closure, ``tag:``, ``state:modified``), model fingerprints,
and the alignment of a drifted incremental batch to its target on
immutable parquet.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_repo_spark.plans.runner import ModelRunner, model
from dbt_repo_spark.sources.catalog import Catalog


def _chain_runner(spark, tmp_path):
    """a -> b -> c chain plus a tagged side model d."""

    @model("a", deps=("src",), materialized="table", tags=("core",))
    def a(ctx):
        return ctx["src"]

    @model("b", deps=("a",), materialized="table")
    def b(ctx):
        return ctx["a"].withColumn("x2", F.col("x") * 2)

    @model("c", deps=("b",), materialized="table", tags=("mart",))
    def c(ctx):
        return ctx["b"].withColumn("x4", F.col("x2") * 2)

    @model("d", deps=("src",), materialized="table", tags=("mart",))
    def d(ctx):
        return ctx["src"]

    cat = Catalog(spark, str(tmp_path / "wh"))
    src = spark.range(5).withColumnRenamed("id", "x")
    return ModelRunner(spark, cat, {"src": src}).add(a, b, c, d)


def test_selector_downstream_closure(spark, tmp_path):
    r = _chain_runner(spark, tmp_path)
    # plain name: node + upstream only (pre-existing semantics)
    assert set(r.run(["b"])) == {"a", "b"}
    # name+ : node, its consumers, and the upstream needed to build them
    assert set(r.run(["a+"])) == {"a", "b", "c"}
    assert set(r.run(["b+"])) == {"a", "b", "c"}


def test_selector_tag(spark, tmp_path):
    r = _chain_runner(spark, tmp_path)
    # tag:mart selects c and d; upstream closure pulls a, b for c
    assert set(r.run(["tag:mart"])) == {"a", "b", "c", "d"}
    assert set(r.run(["tag:core"])) == {"a"}
    # unknown tag selects nothing
    assert set(r.run(["tag:nope"])) == set()


def _incremental_runner(spark, tmp_path, frame):
    @model("inc", deps=("src",), materialized="incremental", unique_key="k")
    def inc(ctx):
        return ctx["src"]

    cat = Catalog(spark, str(tmp_path / "wh"))
    return ModelRunner(spark, cat, {"src": frame}).add(inc)


def test_incremental_drifted_columns_align_to_target(spark, tmp_path):
    batch1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    r = _incremental_runner(spark, tmp_path, batch1)
    r.run(["inc"])
    # drifted batch: new column `extra`, column `v` gone
    batch2 = spark.createDataFrame([(3, 9.5)], "k int, extra double")
    r.sources["src"] = batch2
    out = r.run(["inc"])["inc"]
    # target schema unchanged: extra dropped, v NULL-filled for row 3
    assert set(out.columns) == {"k", "v"}
    rows = {row.k: row.v for row in out.collect()}
    assert rows == {1: "a", 2: "b", 3: None}


def test_selector_downstream_not_pruned_by_earlier_token(spark, tmp_path):
    """`run(["b", "a+"])` must still reach c: the traversal may not stop
    at b just because an earlier token already selected it."""
    r = _chain_runner(spark, tmp_path)
    assert set(r.run(["b", "a+"])) == {"a", "b", "c"}


def test_incremental_type_only_drift_casts_to_target(spark, tmp_path):
    """Same column NAMES but a drifted TYPE must not append a
    type-incompatible file: the batch column is cast to the target's
    type, keeping the table schema single."""
    batch1 = spark.createDataFrame([(1, "a")], "k int, v string")
    r = _incremental_runner(spark, tmp_path, batch1)
    r.run(["inc"])
    r.sources["src"] = spark.createDataFrame([(2, 7.5)], "k int, v double")
    out = r.run(["inc"])["inc"]
    assert dict(out.dtypes)["v"] == "string"
    rows = {row.k: row.v for row in out.collect()}
    assert rows == {1: "a", 2: "7.5"}


def test_state_modified_selection(spark, tmp_path):
    """Slim CI: only fingerprint-changed models (plus downstream with
    `state:modified+`) rebuild against a stored manifest."""
    r = _chain_runner(spark, tmp_path)
    baseline = r.manifest()

    # no changes: nothing selected
    assert set(r.run(["state:modified"], state=baseline)) == set()

    # re-register b with CHANGED logic
    @model("b", deps=("a",), materialized="table")
    def b(ctx):
        return ctx["a"].withColumn("x2", F.col("x") * 3)

    r.add(b)
    # b modified: upstream closure pulls a; c untouched
    assert set(r.run(["state:modified"], state=baseline)) == {"a", "b"}
    # with downstream closure: c rebuilds too
    assert set(r.run(["state:modified+"], state=baseline)) == {"a", "b", "c"}
    # manifest round-trips through disk
    mp = str(tmp_path / "manifest.json")
    r.write_manifest(mp)
    assert set(r.run(["state:modified"], state=mp)) == set()
    # missing state is an explicit error
    with pytest.raises(ValueError, match="needs state"):
        r.run(["state:modified"])


def test_fingerprint_stable_for_nested_code_objects():
    """ADVICE r03: a nested code object (lambda / inner def in a
    builder) used to enter the hash via repr(), which embeds a memory
    address and the absolute source path — the fingerprint changed
    every process/checkout and state:modified over-selected. The hash
    must now be invariant to code-object identity and location
    (simulated here by rebuilding the function from a code object with
    a different co_filename — what a second checkout produces), while a
    logic change INSIDE the nested function must still change it."""
    import dataclasses
    import types

    from dbt_repo_spark.plans.runner import model

    @model("n", materialized="view")
    def v1(ctx):
        def bump(df):
            return df.withColumn("y", F.col("x") * 2)
        return bump(ctx["src"])

    # same logic, "different checkout": every code object (outer AND the
    # nested bump) gets a new identity + new filename
    def relocate(code, path):
        consts = tuple(
            relocate(c, path) if isinstance(c, types.CodeType) else c
            for c in code.co_consts
        )
        return code.replace(co_consts=consts, co_filename=path)

    fn2 = types.FunctionType(
        relocate(v1.fn.__code__, "/somewhere/else/models.py"),
        v1.fn.__globals__,
        v1.fn.__name__,
    )
    v1_moved = dataclasses.replace(v1, fn=fn2)
    assert v1.fn.__code__ is not fn2.__code__
    assert v1.fingerprint() == v1_moved.fingerprint()

    # changed constant inside the NESTED function -> different hash
    @model("n", materialized="view")
    def v2(ctx):
        def bump(df):
            return df.withColumn("y", F.col("x") * 9)
        return bump(ctx["src"])

    assert v1.fingerprint() != v2.fingerprint()

"""dbt-parity runner features added round 3: graph selectors
(``name+`` downstream closure, ``tag:``) and incremental
``on_schema_change`` drift policies (ignore / append_new_columns /
fail) on immutable parquet.
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


def _incremental_runner(spark, tmp_path, frame, on_schema_change):
    holder = {"df": frame}

    @model(
        "inc",
        deps=("src",),
        materialized="incremental",
        unique_key="k",
        on_schema_change=on_schema_change,
    )
    def inc(ctx):
        return ctx["src"]

    cat = Catalog(spark, str(tmp_path / "wh"))
    r = ModelRunner(spark, cat, {"src": holder["df"]}).add(inc)
    return r, holder


def test_on_schema_change_ignore(spark, tmp_path):
    batch1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    r, _ = _incremental_runner(spark, tmp_path, batch1, "ignore")
    r.run(["inc"])
    # drifted batch: new column `extra`, column `v` gone
    batch2 = spark.createDataFrame([(3, 9.5)], "k int, extra double")
    r.sources["src"] = batch2
    out = r.run(["inc"])["inc"]
    # target schema unchanged: extra dropped, v NULL-filled for row 3
    assert set(out.columns) == {"k", "v"}
    rows = {row.k: row.v for row in out.collect()}
    assert rows == {1: "a", 2: "b", 3: None}


def test_on_schema_change_append_new_columns(spark, tmp_path):
    batch1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    r, _ = _incremental_runner(spark, tmp_path, batch1, "append_new_columns")
    r.run(["inc"])
    batch2 = spark.createDataFrame([(3, "c", 9.5)], "k int, v string, extra double")
    r.sources["src"] = batch2
    out = r.run(["inc"])["inc"]
    # schema evolved; pre-drift rows surface NULL for the new column
    assert set(out.columns) == {"k", "v", "extra"}
    rows = {row.k: (row.v, row.extra) for row in out.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}
    # anti-join still dedupes on later identical runs (evolved read path)
    assert r.run(["inc"])["inc"].count() == 3


def test_on_schema_change_fail(spark, tmp_path):
    batch1 = spark.createDataFrame([(1, "a")], "k int, v string")
    r, _ = _incremental_runner(spark, tmp_path, batch1, "fail")
    r.run(["inc"])
    r.sources["src"] = spark.createDataFrame([(2, 1.0)], "k int, extra double")
    with pytest.raises(ValueError, match="schema drift"):
        r.run(["inc"])


def test_on_schema_change_merge_strategy_evolves(spark, tmp_path):
    @model(
        "um",
        deps=("src",),
        materialized="incremental",
        unique_key="k",
        incremental_strategy="merge",
        on_schema_change="append_new_columns",
    )
    def um(ctx):
        return ctx["src"]

    cat = Catalog(spark, str(tmp_path / "wh"))
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    r = ModelRunner(spark, cat, {"src": b1}).add(um)
    r.run(["um"])
    # upsert k=2 with a new column
    b2 = spark.createDataFrame([(2, "B", 7.0)], "k int, v string, extra double")
    r.sources["src"] = b2
    out = r.run(["um"])["um"]
    rows = {row.k: (row.v, row.extra) for row in out.collect()}
    assert rows == {1: ("a", None), 2: ("B", 7.0)}


def test_selector_downstream_not_pruned_by_earlier_token(spark, tmp_path):
    """`run(["b", "a+"])` must still reach c: the traversal may not stop
    at b just because an earlier token already selected it."""
    r = _chain_runner(spark, tmp_path)
    assert set(r.run(["b", "a+"])) == {"a", "b", "c"}


def test_on_schema_change_type_only_drift_casts_to_target(spark, tmp_path):
    """Same column NAMES but a drifted TYPE must not append a
    type-incompatible file: the batch column is cast to the target's
    type (documented contract), keeping the table schema single."""
    batch1 = spark.createDataFrame([(1, "a")], "k int, v string")
    r, _ = _incremental_runner(spark, tmp_path, batch1, "ignore")
    r.run(["inc"])
    r.sources["src"] = spark.createDataFrame([(2, 7.5)], "k int, v double")
    out = r.run(["inc"])["inc"]
    assert dict(out.dtypes)["v"] == "string"
    rows = {row.k: row.v for row in out.collect()}
    assert rows == {1: "a", 2: "7.5"}


def test_on_schema_change_applies_to_insert_overwrite(spark, tmp_path):
    """insert_overwrite must honor the drift policy too — 'fail' raises
    instead of overwriting partitions with a forked schema."""

    @model(
        "iow",
        deps=("src",),
        materialized="incremental",
        incremental_strategy="insert_overwrite",
        partition_by=["p"],
        on_schema_change="fail",
    )
    def iow(ctx):
        return ctx["src"]

    cat = Catalog(spark, str(tmp_path / "wh"))
    b1 = spark.createDataFrame([(1, "x", "a")], "k int, v string, p string")
    r = ModelRunner(spark, cat, {"src": b1}).add(iow)
    r.run(["iow"])
    r.sources["src"] = spark.createDataFrame(
        [(2, "y", 1.0, "b")], "k int, v string, extra double, p string"
    )
    with pytest.raises(ValueError, match="schema drift"):
        r.run(["iow"])


def test_on_schema_change_insert_overwrite_ignore_aligns(spark, tmp_path):
    @model(
        "iow2",
        deps=("src",),
        materialized="incremental",
        incremental_strategy="insert_overwrite",
        partition_by=["p"],
        on_schema_change="ignore",
    )
    def iow2(ctx):
        return ctx["src"]

    cat = Catalog(spark, str(tmp_path / "wh"))
    b1 = spark.createDataFrame([(1, "x", "a")], "k int, v string, p string")
    r = ModelRunner(spark, cat, {"src": b1}).add(iow2)
    r.run(["iow2"])
    # drifted batch for partition b: extra col dropped, v missing -> NULL
    r.sources["src"] = spark.createDataFrame(
        [(2, 1.0, "b")], "k int, extra double, p string"
    )
    out = r.run(["iow2"])["iow2"]
    assert set(out.columns) == {"k", "v", "p"}
    rows = {row.k: (row.v, row.p) for row in out.collect()}
    assert rows == {1: ("x", "a"), 2: (None, "b")}


def _mb_runner(spark, tmp_path, frame, lookback=1):
    @model(
        "mb",
        deps=("src",),
        materialized="incremental",
        incremental_strategy="microbatch",
        event_time="ts",
        batch_size="day",
        lookback=lookback,
    )
    def mb(ctx):
        return ctx["src"]

    cat = Catalog(spark, str(tmp_path / "wh"))
    return ModelRunner(spark, cat, {"src": frame}).add(mb)


def _mb_frame(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, ts timestamp")


def test_microbatch_first_run_and_idempotent(spark, tmp_path):
    import datetime as dt

    d1, d2 = dt.datetime(2024, 1, 1, 5), dt.datetime(2024, 1, 2, 6)
    r = _mb_runner(spark, tmp_path, _mb_frame(spark, [(1, "a", d1), (2, "b", d2)]))
    out = r.run(["mb"])["mb"]
    assert out.count() == 2 and "batch_period" in out.columns
    # identical rerun rewrites the newest period with identical rows
    assert r.run(["mb"])["mb"].count() == 2


def test_microbatch_lookback_shields_old_periods(spark, tmp_path):
    """A replayed feed that MUTATES an old period must not resurrect it:
    only the lookback window (anchored on the input's max event time)
    is rewritten; stale periods in the input are dropped."""
    import datetime as dt

    d1, d2, d3 = (dt.datetime(2024, 1, i, 12) for i in (1, 2, 3))
    r = _mb_runner(
        spark, tmp_path, _mb_frame(spark, [(1, "a", d1), (2, "b", d2)]), lookback=1
    )
    r.run(["mb"])
    # replay: day1 row MUTATED (should be ignored), day3 new (written)
    r.sources["src"] = _mb_frame(
        spark, [(1, "MUTATED", d1), (3, "c", d3)]
    )
    out = r.run(["mb"])["mb"]
    rows = {row.k: row.v for row in out.collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}  # day1 untouched


def test_microbatch_lookback_two_rewrites_two_periods(spark, tmp_path):
    import datetime as dt

    d1, d2, d3 = (dt.datetime(2024, 1, i, 12) for i in (1, 2, 3))
    r = _mb_runner(
        spark, tmp_path,
        _mb_frame(spark, [(1, "a", d1), (2, "b", d2), (3, "c", d3)]),
        lookback=2,
    )
    r.run(["mb"])
    # replay mutates day2 (inside lookback-of-2 from day3) and day1 (outside)
    r.sources["src"] = _mb_frame(
        spark, [(1, "MUT", d1), (2, "B2", d2), (3, "c", d3)]
    )
    out = r.run(["mb"])["mb"]
    rows = {row.k: row.v for row in out.collect()}
    assert rows == {1: "a", 2: "B2", 3: "c"}


def test_microbatch_requires_event_time():
    with pytest.raises(ValueError, match="needs event_time"):
        model(
            "bad",
            materialized="incremental",
            incremental_strategy="microbatch",
        )(lambda ctx: None)


def test_data_test_severity_and_thresholds(spark, tmp_path):
    """dbt test config: warn severity never fails the run; error_if /
    warn_if are violation-count thresholds; warned failures still store
    their audit table."""
    from dbt_repo_spark.plans.testing import run_tests

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "d")], "k int, v string"
    )
    # plain error severity: 2 nulls -> FAIL
    (res,) = run_tests(df, {"v": ["not_null"]})
    assert not res.passed and res.violations == 2 and res.severity == "error"
    # error_if raises the tripwire: 2 violations <= 2 -> pass
    (res,) = run_tests(df, {"v": [{"not_null": True, "config": {"error_if": 2}}]})
    assert res.passed
    # warn severity: run passes but flags
    (res,) = run_tests(
        df, {"v": [{"not_null": True, "config": {"severity": "warn"}}]}
    )
    assert res.passed and res.warned
    # warn_if threshold below the count -> no flag
    (res,) = run_tests(
        df,
        {"v": [{"not_null": True, "config": {"severity": "warn", "warn_if": 5}}]},
    )
    assert res.passed and not res.warned
    # warned test still stores its audit rows
    cat = Catalog(spark, str(tmp_path / "wh"))
    (res,) = run_tests(
        df, {"v": [{"not_null": True, "config": {"severity": "warn"}}]},
        catalog=cat,
    )
    assert res.warned and res.stored_at is not None
    assert cat.read(*res.stored_at.split(".")).count() == 2


def test_model_contract_enforced(spark, tmp_path):
    from dbt_repo_spark.plans.runner import ModelRunner, model

    @model(
        "con",
        deps=("src",),
        materialized="table",
        contract={"k": "bigint", "twice": "bigint"},
    )
    def con(ctx):
        return ctx["src"].select("k", (F.col("k") * 2).alias("twice"))

    cat = Catalog(spark, str(tmp_path / "wh"))
    src = spark.range(3).withColumnRenamed("id", "k")
    r = ModelRunner(spark, cat, {"src": src}).add(con)
    assert set(r.run(["con"])["con"].columns) == {"k", "twice"}

    @model(
        "con2",
        deps=("src",),
        materialized="table",
        contract={"k": "bigint", "twice": "bigint"},
    )
    def con2(ctx):
        return ctx["src"].select("k", (F.col("k") * 2.0).alias("twice"))  # double!

    r.add(con2)
    with pytest.raises(ValueError, match="contract violation"):
        r.run(["con2"])


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

"""Model runner: DAG of DataFrame builders + materializations.

Replaces dbt's manifest/Jinja layer (SURVEY.md §3.1). A model is a Python
function ``(ctx) -> DataFrame``; ``ref()``/``source()`` become dict
lookups; the IR between models is the Catalyst logical plan itself, so
``ephemeral`` materialization is literally free — downstream models compose
into ONE plan and Catalyst pushes predicates/prunes columns across the
whole chain (dbt_project.yml:46-48 ephemeral src layer).

Materializations (SURVEY.md §2.11 D1-D5):
- ephemeral   — pass the lazy DataFrame through (no persistence).
- view        — register a temp view (dbt_project.yml:52-54).
- table       — overwrite parquet in the catalog (dbt_project.yml:58-72).
- incremental — first run full write; later runs anti-join new rows against
  the existing target on ``unique_key`` then APPEND — exactly the
  reference's NOT-IN template (models/facts/fact_station_status.sql:30-32,
  fact_station_status_history.sql:24-26). The target snapshot is read
  BEFORE the write so the model never reads its own writes (§7.3 risk 1);
  md5 keys are non-null so anti-join ≡ NOT IN (§7.3 risk 3). A batch
  whose schema drifted from the target's is aligned to the target first,
  so an append never forks the table's schema.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field, fields
from graphlib import TopologicalSorter
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_repo_spark.sources.catalog import Catalog
from dbt_repo_spark.sources.readers import file_stamps

MATERIALIZATIONS = ("ephemeral", "view", "table", "incremental")


@dataclass
class Model:
    name: str
    fn: Callable
    deps: tuple[str, ...] = ()
    materialized: str = "ephemeral"
    layer: str = "analytics"
    unique_key: str | None = None
    partition_by: list[str] | None = None
    cluster_by: list[str] | None = None
    tests: dict = field(default_factory=dict)
    tags: tuple[str, ...] = ()

    def fingerprint(self) -> str:
        """Content hash for Slim-CI state comparison: the builder's
        bytecode + consts + every behavior-bearing config field (every
        field but ``name``, ``fn``, ``tests`` and ``tags``). Doc
        or comment edits don't change it; logic or config edits do.
        Nested code objects (a lambda or inner def in the builder) are
        folded RECURSIVELY by their own co_code/co_consts — their repr
        embeds a memory address and absolute file path, which would
        change every process/checkout and make state:modified
        over-select those models, defeating Slim CI."""
        import hashlib
        import types

        def fold(const):
            if isinstance(const, types.CodeType):
                return (
                    "<code>",
                    const.co_code,
                    const.co_names,
                    const.co_varnames,
                    tuple(fold(c) for c in const.co_consts),
                )
            if isinstance(const, tuple):
                return tuple(fold(c) for c in const)
            if isinstance(const, frozenset):
                return ("<frozenset>",) + tuple(
                    sorted(repr(fold(c)) for c in const)
                )
            return const

        payload = repr((
            fold(self.fn.__code__),
            *(getattr(self, f.name) for f in fields(self)
              if f.name not in ("name", "fn", "tests", "tags")),
        ))
        return hashlib.md5(payload.encode()).hexdigest()

    def __post_init__(self):
        if self.materialized not in MATERIALIZATIONS:
            raise ValueError(f"unknown materialization {self.materialized!r}")
        if self.materialized == "incremental" and not self.unique_key:
            raise ValueError(f"incremental model {self.name} needs unique_key")


def model(name: str, **config) -> Callable[[Callable], Model]:
    """Decorator registering a DataFrame-builder as a model; ``config``
    takes any other ``Model`` field by keyword.

    The builder receives ``ctx: dict[str, DataFrame]`` holding its deps
    (refs and sources alike) plus the SparkSession under ``"spark"``.
    """
    return lambda fn: Model(name=name, fn=fn, **config)


def _rel_parent(test) -> str | None:
    """The model a ``relationships`` test names by string, else None."""
    if (
        isinstance(test, dict) and "relationships" in test
        and isinstance(test["relationships"][0], str)
    ):
        return test["relationships"][0]
    return None


def _signature(m: Model, df: DataFrame) -> tuple | None:
    """``(fingerprint, input file stamps, optimized plan)`` of a built
    model, or None when ``run()``'s skip rule must never skip it."""
    from urllib.parse import unquote, urlparse

    qe = df._jdf.queryExecution()
    plan = qe.optimizedPlan()
    pattern = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
    if (
        not qe.analyzed().deterministic()
        or qe.analyzed().containsPattern(pattern.PYTHON_UDF())
        # a subquery's plan is not among the leaves or the input files
        or plan.containsPattern(pattern.PLAN_EXPRESSION())
    ):
        return None
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (
            leaf.getClass().getSimpleName() != "LogicalRelation"
            or leaf.relation().getClass().getSimpleName() != "HadoopFsRelation"
        ):
            return None
    stamps = []
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme != "file":
            return None
        try:
            found = file_stamps(unquote(u.path))
        except OSError:
            return None
        if not found:  # gone since Spark listed it
            return None
        stamps += found
    return m.fingerprint(), tuple(sorted(stamps)), plan


def _same(a: tuple, b: tuple) -> bool:
    return a[:2] == b[:2] and a[2].sameResult(b[2])


def _align(df: DataFrame, target: DataFrame) -> DataFrame:
    """An incremental batch in the target's schema: batch-only columns
    are dropped, target columns the batch lacks become typed NULLs, and
    shared columns are cast to the target's type, so a drifted batch
    surfaces as nulls or cast errors at write, never as a forked table
    schema."""
    t_cols = dict(target.dtypes)
    if dict(df.dtypes) == t_cols:
        return df  # identical names AND types — nothing to do
    d_cols = set(df.columns)
    return df.select([
        (F.col(c).cast(t) if c in d_cols else F.lit(None).cast(t)).alias(c)
        for c, t in t_cols.items()
    ])


class ModelRunner:
    """Topo-sorts and materializes a set of models (dbt run/test analog)."""

    def __init__(self, spark: SparkSession, catalog: Catalog, sources: dict[str, DataFrame]):
        self.spark = spark
        self.catalog = catalog
        self.sources = dict(sources)
        self.models: dict[str, Model] = {}
        self._state: dict | None = None
        self._defer: Catalog | None = None
        # model name -> (signature, target file stamps, returned frame)
        # of the last write this runner made (run()'s skip rule)
        self._written: dict[str, tuple] = {}

    def add(self, *models: Model) -> "ModelRunner":
        for m in models:
            self.models[m.name] = m
        return self

    def manifest(self) -> dict[str, str]:
        """name -> fingerprint map (dbt manifest analog for Slim CI)."""
        return {name: m.fingerprint() for name, m in self.models.items()}

    def write_manifest(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            json.dump(self.manifest(), fh, indent=1, sort_keys=True)

    def _resolve_selector(self, tokens: list[str]) -> set[str]:
        """dbt-style graph selectors: ``name`` / ``+name`` (upstream
        closure — applied to every selection here anyway, since deps must
        build), ``name+`` (the node plus its transitive DOWNSTREAM
        consumers — dbt's rebuild-what-this-feeds), ``+name+``, and
        ``tag:x`` (every model carrying the tag). Unknown plain names are
        silently skipped (pre-existing tolerance); an unknown tag selects
        nothing.
        """
        children: dict[str, set[str]] = {}
        for name, m in self.models.items():
            for d in m.deps:
                children.setdefault(d, set()).add(name)
        sel: set[str] = set()
        for tok in tokens:
            core = tok.lstrip("+")
            downstream = core.endswith("+")
            core = core.rstrip("+")
            if core.startswith("tag:"):
                base = {
                    n for n, m in self.models.items() if core[4:] in m.tags
                }
            elif core == "state:modified":
                # Slim CI: models whose fingerprint differs from the
                # baseline manifest (or absent from it). Requires a
                # state passed to run(); combine with a trailing + to
                # also rebuild consumers ("state:modified+").
                if self._state is None:
                    raise ValueError(
                        "state:modified needs state= (a manifest dict "
                        "or path) passed to run()"
                    )
                base = {
                    n for n, m in self.models.items()
                    if self._state.get(n) != m.fingerprint()
                }
            else:
                base = {core} if core in self.models else set()
            sel |= base
            if downstream:
                # traversal bookkeeping is SEPARATE from sel: a child
                # already selected by an earlier token must still be
                # traversed, or its own consumers are silently dropped
                visited: set[str] = set()
                stack = list(base)
                while stack:
                    n = stack.pop()
                    for c in children.get(n, ()):
                        if c not in visited:
                            visited.add(c)
                            sel.add(c)
                            stack.append(c)
        return sel

    def _upstream(self, name: str) -> set[str]:
        """Every model ``name`` refs, transitively."""
        seen: set[str] = set()
        stack = [name]
        while stack:
            for d in self.models[stack.pop()].deps:
                if d in self.models and d not in seen:
                    seen.add(d)
                    stack.append(d)
        return seen

    def _edges(self, name: str) -> set[str]:
        """The models ``name`` refs or names in a ``relationships`` test,
        except a named model that refs ``name`` itself (no cycle)."""
        m = self.models[name]
        named = {_rel_parent(t) for tests in m.tests.values() for t in tests}
        named = {p for p in named if p in self.models and name not in self._upstream(p)}
        return {d for d in m.deps if d in self.models} | named

    def _order(self, selected: list[str] | None = None) -> list[str]:
        # a relationships test's parent sorts before the tested model, so
        # build()'s task for it can wait on the parent's future
        graph = {name: self._edges(name) for name in self.models}
        order = list(TopologicalSorter(graph).static_order())
        if selected is None:
            return order
        # resolve selector tokens, then include the upstream closure
        # (refs must exist before a selected model can build). Under
        # --defer, an UNSELECTED upstream that the deferred (production)
        # catalog already holds is NOT rebuilt — its ref resolves from
        # prod at build time. Selected models always build locally
        # (dbt's favor-local rule), and a dep absent from prod falls
        # back to building here.
        sel = self._resolve_selector(selected)
        needed: set[str] = set()

        def deferred(n: str) -> bool:
            return (
                self._defer is not None
                and n not in sel
                and self._defer.exists(self.models[n].layer, n)
            )

        def visit(n: str) -> None:
            if n in needed or n not in self.models or deferred(n):
                return
            needed.add(n)
            for d in self.models[n].deps:
                visit(d)

        for s in sel:
            visit(s)
        return [n for n in order if n in needed]

    def run(
        self,
        selected: list[str] | None = None,
        full_refresh: bool = False,
        parallelism: int | None = None,
        state: "dict | str | None" = None,
        defer_to: "Catalog | None" = None,
    ) -> dict[str, DataFrame]:
        """Build every model in dependency order; returns name → DataFrame.

        Returned frames for persisted models re-read from storage so
        downstream consumers scan the materialized (partition-pruned,
        clustered) parquet rather than recomputing the plan.

        Independent models materialize concurrently on ``parallelism``
        driver threads (dbt's --threads; ``None`` means the session's
        ``defaultParallelism``): Spark schedules jobs from every thread
        into one shared cluster, so sibling models overlap their
        scans/shuffles instead of leaving cores idle between driver-side
        planning phases. A model starts only after everything it refs
        has materialized (wave-free: each model waits on exactly its own
        deps, not on its topological generation); one thread builds in
        topological order. Worker threads carry the caller's job group,
        description and tags.

        If a model's builder or write raises, ``run()`` re-raises that
        exception once every submitted model has settled. None of the
        failed model's transitive dependents is written; models that do
        not depend on it still build, as with dbt --threads.

        A ``table`` or ``incremental`` model is not rewritten when
        nothing it reads or does has changed since this runner last
        wrote it (dbt's state-aware ``source_status:fresher+``). After
        the builder, the runner signs the model:
        its ``fingerprint()``, its optimized plan (compared with
        ``sameResult``; Catalyst folds ``current_timestamp()`` into a
        literal, so a clock-reading model never matches and a
        ``current_date()`` one matches within a day) and
        ``(path, size, mtime_ns)`` of every file the plan reads. If the
        signature equals the one recorded at the model's last write and
        the target's files are still the ones that write left, the
        model is skipped and ``run()`` returns the frame that write
        returned. Any append, overwrite or in-place rewrite of a source
        or an upstream table therefore rebuilds everything downstream
        of it. A model is always rebuilt under ``full_refresh=True``,
        and when its analyzed plan is not deterministic, calls a Python
        UDF, or reads anything but file scans (in-memory data, a range,
        an RDD, a cached relation, a subquery). The record lives in
        this runner instance only: a new runner, such as each CLI
        invocation, rebuilds everything. ``build()`` shares this
        scheduler and these rules.
        """
        self._start(state, defer_to)

        def build(name: str, done: dict[str, Future]) -> DataFrame:
            return self._build_one(name, self._deps(name, done), full_refresh)

        return self._in_pool(self._order(selected), build, parallelism)

    def _start(self, state: "dict | str | None", defer_to: "Catalog | None") -> None:
        """The Slim-CI state and --defer catalog that ``run()`` and
        ``build()`` both set up."""
        if isinstance(state, str):
            import json

            with open(state) as fh:
                state = json.load(fh)
        self._state = state
        # dbt --defer: refs to models NOT built in this run resolve from
        # the deferred catalog (the Slim-CI partner of state:modified —
        # build only what changed, read everything else from prod)
        self._defer = defer_to

    def _deps(self, name: str, done: dict[str, Future]) -> dict:
        """The built frames of ``name``'s refs that this call schedules."""
        return {d: done[d].result() for d in self.models[name].deps if d in done}

    def _in_pool(
        self, names: list[str], fn: Callable, parallelism: int | None
    ) -> dict:
        """``{name: fn(name, futures)}`` on a thread pool. ``names`` are
        submitted in order, so a task may block on the future of any
        EARLIER name (every earlier task has already been picked up, so
        the wait cannot deadlock). Each task is wrapped at submit time in
        ``inheritable_thread_target``, which copies the caller's Spark
        local properties (job group, description) and session tags."""
        from pyspark.util import inheritable_thread_target

        workers = parallelism or self.spark.sparkContext.defaultParallelism
        futures: dict[str, Future] = {}
        with ThreadPoolExecutor(max_workers=workers) as pool:
            for name in names:
                task = inheritable_thread_target(self.spark)(fn)
                futures[name] = pool.submit(task, name, futures)
            return {name: f.result() for name, f in futures.items()}

    def _build_one(
        self, name: str, built: dict[str, DataFrame], full_refresh: bool
    ) -> DataFrame:
        m = self.models[name]
        ctx: dict = {"spark": self.spark}
        for d in m.deps:
            if d in built:
                ctx[d] = built[d]
            elif d in self.sources:
                ctx[d] = self.sources[d]
            elif (
                self._defer is not None
                and d in self.models
                and self._defer.exists(self.models[d].layer, d)
            ):
                # path-based read: the deferred catalog's views are not
                # registered in this session (it is another environment)
                ctx[d] = self._defer.read(self.models[d].layer, d)
            else:
                raise KeyError(f"model {name}: unresolved dependency {d!r}")
        df = m.fn(ctx)
        sig = (
            _signature(m, df)
            if m.materialized in ("table", "incremental") else None
        )
        last = self._written.pop(name, None)
        if (
            sig is not None and last is not None and not full_refresh
            and _same(sig, last[0]) and last[1] == self._target_stamps(m)
        ):
            self._written[name] = last
            return last[2]
        out = self._materialize(m, df, full_refresh)
        if sig is not None:
            self._written[name] = (sig, self._target_stamps(m), out)
        return out

    def _target_stamps(self, m: Model) -> tuple:
        return file_stamps(self.catalog.path(m.layer, m.name))

    def _materialize(self, m: Model, df: DataFrame, full_refresh: bool) -> DataFrame:
        if m.materialized == "ephemeral":
            return df
        if m.materialized == "view":
            df.createOrReplaceTempView(m.name)
            return df
        # table, incremental: one write, then one re-read
        mode = "overwrite"
        if (
            m.materialized == "incremental" and not full_refresh
            and self.catalog.exists(m.layer, m.name)
        ):
            # is_incremental() branch: {{ this }} is read BEFORE the
            # write, so the model never reads its own writes. The batch
            # is aligned to the target's schema, then anti-joined against
            # its keys and appended. The key side is projected to ONE
            # column so the scan of the existing target prunes to the key
            # column only (parquet ReadSchema), and is not deduplicated: a
            # left anti join's result ignores duplicates on its build
            # side, and a distinct() would add a shuffle stage. It is
            # fact-sized, so Catalyst/AQE picks the join strategy.
            target = self.catalog.read(m.layer, m.name)
            df = _align(df, target).join(
                target.select(m.unique_key), m.unique_key, "left_anti"
            )
            mode = "append"
        self.catalog.write(
            df, m.layer, m.name,
            mode=mode,
            partition_by=m.partition_by,
            sort_within_partitions=m.cluster_by,
        )
        return self.catalog.read(m.layer, m.name)

    def _test_one(self, name: str, built: dict[str, DataFrame]) -> list:
        from dbt_repo_spark.plans.testing import run_tests

        m = self.models[name]
        if not m.tests or name not in built:
            return []
        spec = {
            col: [
                {**t, "relationships": (built[parent], t["relationships"][1])}
                if parent else t
                for t in tests
                if (parent := _rel_parent(t)) is None or parent in built
            ]
            for col, tests in m.tests.items()
        }
        return run_tests(built[name], spec)

    def test(self, built: dict[str, DataFrame]) -> dict[str, list]:
        """dbt-test analog: run each model's declared test spec, one
        model per task on ``run()``'s kind of thread pool. A
        ``relationships`` test naming a model absent from ``built`` is
        skipped."""
        tested = [n for n, m in self.models.items() if m.tests and n in built]
        return self._in_pool(
            tested, lambda name, _: self._test_one(name, built), None
        )

    def build(
        self,
        selected: list[str] | None = None,
        full_refresh: bool = False,
        state: "dict | str | None" = None,
        defer_to: "Catalog | None" = None,
    ) -> tuple[dict[str, DataFrame], dict[str, str]]:
        """dbt build: materialize AND test each model, on ``run()``'s
        scheduler (one worker per core) and under its rules for raising
        builders and unchanged models. A model's tests run in its own
        task as soon as it and the models its ``relationships`` tests
        name are built. A model whose ref failed a test or was skipped
        is itself SKIPPED (it would build on bad data) and not returned,
        while siblings keep building. A ``relationships`` test naming a
        model that was skipped, or that this call does not build, is
        skipped, as dbt skips it.
        Returns (built frames, status per model: ok | fail | skipped).
        """
        self._start(state, defer_to)
        status: dict[str, str] = {}

        def build_and_test(name: str, done: dict[str, Future]) -> DataFrame | None:
            deps = self._deps(name, done)
            # a dep's future has resolved, so its status is already set
            if any(status[d] != "ok" for d in deps):
                status[name] = "skipped"
                return None
            df = self._build_one(name, deps, full_refresh)
            built = {d: done[d].result() for d in self._edges(name) if d in done}
            built = {d: b for d, b in built.items() if b is not None}
            built[name] = df
            passed = all(r.passed for r in self._test_one(name, built))
            status[name] = "ok" if passed else "fail"
            return df

        results = self._in_pool(self._order(selected), build_and_test, None)
        built = {n: df for n, df in results.items() if df is not None}
        return built, {n: status[n] for n in results}

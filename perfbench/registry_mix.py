"""``registry_mix``: one client running the registry's bench query set.

Each pass runs every ``plans.registry.bench_queries()`` builder into
the noop sink, in an order shuffled by the workload seed, with
``clearCache()`` between queries (as ``bench.py`` does). Inputs are the
read-only fixtures at ``$SPARK_GRAFT_SF_DIR`` (``config.default_sf_dir``).
After the timed passes every query is compared, untimed, against its
DuckDB oracle with ``tests/oracle_check.compare_query``.
"""

from __future__ import annotations

import contextlib
import os
import random
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

from perfbench.common import Phase
from perfbench.stats import median
from ripple_server_spark.config import default_sf_dir

PKG = "ripple_server_spark"
MODULES = (
    "operators.dedup",
    "operators.similarity",
    "functions.text",
    "operators.windows",
    "operators.joins",
    "operators.aggregates",
    "sources",
)


@dataclass
class Ctx:
    engine: object
    sf_dir: str
    seed: int
    queries: dict


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def setup(engine, work_dir: str, seed: int) -> Ctx:
    """Load the bench query set and run one untimed warm pass."""
    from ripple_server_spark.plans.registry import bench_queries

    sf_dir = default_sf_dir()
    if not os.path.isdir(sf_dir):
        raise FileNotFoundError(f"fixture directory {sf_dir!r} not found (SPARK_GRAFT_SF_DIR)")
    queries = dict(sorted(bench_queries().items()))
    for builder in queries.values():
        engine.spark.catalog.clearCache()
        _materialize(builder(engine.spark, sf_dir))
    return Ctx(engine, sf_dir, seed, queries)


def teardown(ctx: Ctx) -> None:
    ctx.engine.spark.catalog.clearCache()


@contextlib.contextmanager
def _modules_called(out: set):
    """Record which engine modules this thread calls into, from the
    code object's file of every Python call (used only while building a
    plan in the traced phase)."""
    root = os.path.dirname(sys.modules[PKG].__file__)
    files = {m: os.path.join(root, *m.split(".")) for m in MODULES}

    def hook(frame, event, _arg):
        if event == "call":
            fn = frame.f_code.co_filename
            for m, path in files.items():
                if fn.startswith(path):
                    out.add(m)

    sys.setprofile(hook)
    try:
        yield
    finally:
        sys.setprofile(None)


def measure(ctx: Ctx, seconds: float, tracer, traced: bool, tag: str) -> Phase:
    from ripple_server_spark.plans.registry import SPECS

    spark, engine = ctx.engine.spark, ctx.engine
    rng = random.Random(f"{ctx.seed}/{tag}")
    names = list(ctx.queries)
    times: dict[str, list[float]] = defaultdict(list)
    jobs: dict[str, list[int]] = defaultdict(list)
    modules: dict[str, set] = defaultdict(set)
    passes: list[float] = []
    failures: list[str] = []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        rng.shuffle(names)
        p0 = time.perf_counter()
        for name in names:
            spark.catalog.clearCache()
            q0 = time.perf_counter()
            try:
                with tracer.span("op.query", name):
                    counting = engine.jobs(jobs[name]) if traced else contextlib.nullcontext()
                    with counting:
                        with tracer.span("plans.build"):
                            watch = _modules_called(modules[name]) if traced else contextlib.nullcontext()
                            with watch:
                                df = ctx.queries[name](spark, ctx.sf_dir)
                        with tracer.span("materialize"):
                            _materialize(df)
            except Exception as e:  # counted, and fails the correctness check
                failures.append(f"{name}: {e!r}")
                continue
            times[name].append(time.perf_counter() - q0)
        passes.append(time.perf_counter() - p0)

    ph = Phase()
    ph.attempted = len(passes) * len(names)
    ph.failed = len(failures)
    ph.errors.extend(failures)
    if not traced:  # the traced phase re-runs the same queries
        ph.errors.extend(_verify(ctx, SPECS))
    ph.e2e["mix_pass_s"] = (median(passes), "s", len(passes))
    for name in sorted(times):
        ph.layer[f"mix.{name}.s"] = (median(times[name]), "s")
        if traced:
            ph.layer[f"mix.{name}.jobs"] = (float(median(jobs[name])), "count")
    if traced:
        for m in MODULES:
            total = sum(median(times[q]) for q in times if m in modules[q])
            ph.layer[f"mix.layer.{m}.s"] = (total, "s")
    return ph


def _verify(ctx: Ctx, specs) -> list[str]:
    """Untimed oracle comparison of every query (``oracle_check`` is
    imported from the repository's tests, unmodified)."""
    tests_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
    sys.path.insert(0, tests_dir)
    try:
        import oracle_check
    finally:
        sys.path.remove(tests_dir)
    con = oracle_check.duckdb_conn(ctx.sf_dir)
    errors = []
    for name, builder in ctx.queries.items():
        sql = specs[name].oracle
        if sql is None:
            continue
        ctx.engine.spark.catalog.clearCache()
        diff = oracle_check.compare_query(ctx.engine.spark, con, name, builder, sql, ctx.sf_dir)
        if diff is not None:
            errors.append(f"{name}: {diff.kind}: {diff.detail}")
    con.close()
    return errors

"""Catalog workload: one pass over catalog queries, each checked against
the query's DuckDB oracle SQL with the project's oracle-harness rules."""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

from scrapy_cluster_test_spark.plans.catalog import catalog
from tests.oracle_harness import canonical_rows, duck_connection

from . import catalogdata
from .cache import cached_dir

# Kernel modules a query builder may call. A query's group is the first of
# them its builder calls; a query calling none is relational.
KERNELS = {
    "similarity": "scrapy_cluster_test_spark.operators.similarity",
    "dedupe": "scrapy_cluster_test_spark.operators.dedupe",
    "textanalysis": "scrapy_cluster_test_spark.operators.textanalysis",
    "extract": "scrapy_cluster_test_spark.operators.extract",
    "mws": "scrapy_cluster_test_spark.operators.mws",
    "streaming": "scrapy_cluster_test_spark.streaming.throttle",
    "frontier": "scrapy_cluster_test_spark.operators.frontier",
}
GROUPS = ("relational", *KERNELS)


def ensure_data(cache_dir: str, sf: float, seed: int) -> str:
    """The tables' directory, written on first use."""
    return cached_dir(
        cache_dir, "catalog",
        {"sf": sf, "seed": seed, "tables": list(catalogdata.TABLES)},
        lambda out: catalogdata.write_tables(out, sf, seed),
    )


def _result(cols: list[str], rows: list[tuple]) -> dict:
    return {"cols": sorted(cols), "rows": canonical_rows(cols, rows)}


def oracle_results(data_dir: str) -> dict[str, dict]:
    """DuckDB's answer to every query's oracle SQL, in the harness's
    canonical form; computed once per data set and kept beside it."""
    path = os.path.join(data_dir, "_ORACLE.json")
    entries = catalog()
    try:
        with open(path) as f:
            cached = json.load(f)
        if cached.get("sql") == {n: e.oracle for n, e in entries.items()}:
            return cached["results"]
    except (OSError, json.JSONDecodeError):
        pass
    con = duck_connection(data_dir)
    # with several threads, the embedding queries leave tens of thousands of
    # memory mappings behind in this process; near the kernel's default
    # vm.max_map_count (65,530) DuckDB's allocations then fail
    con.execute("SET threads=1")
    try:
        results = {}
        for name, e in sorted(entries.items()):
            pdf = con.execute(e.oracle).df()
            results[name] = _result(
                list(pdf.columns),
                [tuple(r) for r in pdf.itertuples(index=False, name=None)],
            )
    finally:
        con.close()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"sql": {n: e.oracle for n, e in entries.items()}, "results": results}, f)
    os.replace(tmp, path)
    return results


def query_order(seed: int, names: list[str]) -> list[str]:
    names = sorted(names)
    random.Random(seed).shuffle(names)
    return names


def query_groups(cache_dir: str, session) -> dict[str, str]:
    """Each query's group: the first kernel module its builder calls, or
    relational. Found by building every query's plan under KernelCalls
    (nothing is collected) in the ``(spark, data_dir)`` that ``session()``
    returns, and cached under a hash of the package source, so a checkout
    pays for it once."""
    import scrapy_cluster_test_spark

    pkg = os.path.dirname(os.path.abspath(scrapy_cluster_test_spark.__file__))
    h = hashlib.sha256()
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for n in sorted(f for f in files if f.endswith(".py")):
            with open(os.path.join(root, n), "rb") as f:
                h.update(f.read())
    path = os.path.join(cache_dir, f"query_groups-{h.hexdigest()[:16]}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        pass
    spark, data_dir = session()
    groups = {}
    with KernelCalls() as kc:
        for name, e in sorted(catalog().items()):
            mark = len(kc.calls)
            e.builder(spark, data_dir)
            called = kc.calls[mark:]
            groups[name] = called[0] if called else "relational"
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(groups, f)
    os.replace(tmp, path)
    return groups


def every_nth_per_group(groups: dict[str, str], n: int) -> list[str]:
    """The first and every ``n``-th query after it, in name order, of each
    group: about 1/n of the catalog, with every kernel group in it."""
    by_group: dict[str, list[str]] = {}
    for name in sorted(groups):
        by_group.setdefault(groups[name], []).append(name)
    return sorted(q for names in by_group.values() for q in names[::n])


class KernelCalls:
    """Records which kernel modules a query builder calls, by wrapping each
    public function of those modules for the duration of a ``with`` block.
    Builders import these functions at call time, so the wrappers see every
    call made while the query's plan is built."""

    def __init__(self):
        self.calls: list[str] = []

    def __enter__(self) -> "KernelCalls":
        import importlib
        import inspect

        self._saved = []
        for group, modname in KERNELS.items():
            mod = importlib.import_module(modname)
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(fn):
                    continue
                if fn.__module__ != modname:
                    continue
                self._saved.append((mod, name, fn))
                setattr(mod, name, self._wrap(group, fn))
        return self

    def _wrap(self, group, fn):
        calls = self.calls

        def wrapper(*args, **kwargs):
            calls.append(group)
            return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def __exit__(self, *exc) -> None:
        for mod, name, fn in self._saved:
            setattr(mod, name, fn)


def run_pass(spark, data_dir: str, order: list[str], kernels: KernelCalls | None = None):
    """One pass over the queries in ``order``. Each query is materialized
    into pandas, the same path the oracle harness compares, so every
    projected column is computed. Returns (wall, per-query seconds,
    per-query results, per-query group)."""
    entries = catalog()
    times, results, groups = {}, {}, {}
    t_pass = time.perf_counter()
    for name in order:
        mark = len(kernels.calls) if kernels is not None else 0
        t0 = time.perf_counter()
        pdf = entries[name].builder(spark, data_dir).toPandas()
        times[name] = time.perf_counter() - t0
        results[name] = pdf
        if kernels is not None:
            called = kernels.calls[mark:]
            groups[name] = called[0] if called else "relational"
    return time.perf_counter() - t_pass, times, results, groups


def mismatches(results: dict, expected: dict[str, dict]) -> tuple[list[str], list[str]]:
    """(queries whose rows differ from DuckDB's, queries that returned no
    rows). Values compare in the harness's canonical form."""
    bad, empty = [], []
    for name, pdf in results.items():
        got = _result(
            list(pdf.columns),
            [tuple(r) for r in pdf.itertuples(index=False, name=None)],
        )
        if got != expected.get(name):
            bad.append(name)
        if len(pdf) == 0:
            empty.append(name)
    return bad, empty

"""Per-query profile: what a query costs cold and warm, which Spark
jobs and stages it ran, and the shape of its physical plan.

Usage:
    python tools/query_profile.py [--sf DIR] [--ab PINNED_TREE]
                                  [--runs N] [--plans OUT_DIR] [query ...]

Queries default to ``bench.HEADLINE`` and ``--sf`` to the smoke scale
of ``__spark_entry__``; the master is ``get_spark``'s default,
``local[$SPARK_GRAFT_CPUS or *]``. One JSON line per query:

- set-up: one job and one read of each table in ``--sf``, untimed;
- cold: fresh plan memo, fresh star-schema memo (``sources/star.py``)
  and ``clearCache()``; the builder call is timed under job group
  ``<q>|build``, ``executedPlan()`` as ``catalyst_s``, and one ``noop``
  write under ``<q>|exec`` as ``exec_s``. The build group's job count
  is ``build_jobs``; it includes one schema-read job for each star
  table the query loads, so every cold build, in every round and on
  either ``--ab`` side, pays the same schema reads;
- warm: one untimed ``noop`` write of the memo hit, then ``--runs``
  timed ones (``warm_min_s``, ``warm_median_s``), under ``<q>|warm``;
- stages: per job group, the status-API totals of ``SparkStats``;
- plan: node counts from the formatted explain of the cold plan,
  written to ``OUT_DIR/<q>_<side>.txt`` with ``--plans``; ``python``
  also counts the optimized plan's Python-RDD scans as ``PythonRDD``.

``--ab PINNED_TREE`` (a directory holding a ``sales_etl_spark/``, e.g.
a ``git worktree``) profiles each query ``--runs`` rounds on both
trees in one JVM, alternating which side goes first, and reports each
side's medians and the head/pin ratio of the timing medians. Python
workers import the package from the working directory (or the package
shipped by the first builder call), so a change inside a worker-side
kernel is not A/B'd by this mode.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from perfbench.spark_stats import SparkStats  # noqa: E402

PKG = "sales_etl_spark"
#: The shuffle width bench.py and perfbench run with.
SHUFFLE_PARTITIONS = 8
TIMINGS = ("cold_s", "build_s", "catalyst_s", "exec_s", "warm_min_s",
           "warm_median_s")


class Trees:
    """The package imported from one of several source trees at a time.

    A builder keeps the module globals it was defined with, but one that
    imports ``sales_etl_spark.*`` when called gets whatever
    ``sys.modules`` holds; so a switch purges the package and imports it
    again from the tree being activated."""

    def __init__(self, roots: dict[str, Path]):
        self.roots = roots
        self.active: str | None = None
        self.registry: dict = {}
        self.clear_plan_cache = None

    def activate(self, side: str):
        """``(QUERY_REGISTRY, clear_plan_cache)`` of ``side``'s tree."""
        if side != self.active:
            for mod in [m for m in sys.modules
                        if m == PKG or m.startswith(PKG + ".")]:
                del sys.modules[mod]
            root = str(self.roots[side])
            sys.path.insert(0, root)
            try:
                plans = importlib.import_module(f"{PKG}.plans")
                registry = importlib.import_module(f"{PKG}.plans.registry")
            finally:
                sys.path.remove(root)
            self.active = side
            self.registry = plans.QUERY_REGISTRY
            self.clear_plan_cache = registry.clear_plan_cache
        return self.registry, self.clear_plan_cache


def _nodes(body: str, pattern: str) -> list[str]:
    return re.findall(rf"\(\d+\) ({pattern})\b", body)


def _top_level_fields(schema: str) -> int:
    depth, fields = 0, int(bool(schema))
    for ch in schema:
        depth += {"<": 1, ">": -1}.get(ch, 0)
        fields += ch == "," and depth == 0
    return fields


def python_rdd_scans(qe) -> int:
    """Leaves of a ``QueryExecution``'s optimized plan that scan a
    Python RDD (``createDataFrame`` on a Python list, for one): each
    execution starts Python workers, yet the physical plan shows only
    a ``Scan ExistingRDD``. Reads each leaf's RDD lineage; runs no job."""
    leaves = qe.optimizedPlan().collectLeaves()
    return sum(
        1 for leaf in map(leaves.apply, range(leaves.length()))
        if leaf.getClass().getSimpleName() == "LogicalRDD"
        and "PythonRDD" in leaf.rdd().toDebugString()
    )


def plan_summary(plan: str, qe) -> dict:
    """Node counts of a ``formatted`` explain's physical plan, plus the
    Python-RDD scans of ``qe``, the same query's ``QueryExecution``."""
    body = plan.split("== Physical Plan ==")[-1]
    python: dict[str, int] = {}
    for node in _nodes(body, r"\w*(?:EvalPython|InPandas|InArrow)\w*"):
        python[node] = python.get(node, 0) + 1
    if n := python_rdd_scans(qe):
        python["PythonRDD"] = n
    return {
        "exchanges": len(_nodes(body, "Exchange")),
        "reused_exchanges": len(_nodes(body, "ReusedExchange")),
        "joins": sorted(set(_nodes(body, r"\w*Join|CartesianProduct"))),
        "python": python,
        "in_memory_relations": len(_nodes(body, "InMemoryRelation")),
        "scan_cols": [
            _top_level_fields(s)
            for s in re.findall(r"ReadSchema: struct<(.*)>$", body, re.M)
        ],
    }


def warm_up(spark, sf: str) -> None:
    """The session's first job and one read of every table in ``sf``:
    costs paid once per process (a table's first read runs a job), which
    would otherwise land on whichever query comes first."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for table in sorted(Path(sf).glob("*.parquet")):
        spark.read.parquet(str(table)).count()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _group(totals: dict, group: str) -> dict:
    got = totals.get(group, {})
    return {
        k: int(v) if k in ("jobs", "stages", "tasks") else round(v, 3)
        for k, v in got.items()
    } or {"jobs": 0}


def profile(spark, stats: SparkStats, registry: dict, clear_plan_cache,
            name: str, sf: str, runs: int, group: str = ""):
    """One cold and warm profile of ``name``: ``(record, plan text)``.
    Job groups are ``<group><name>|build|exec|warm``."""
    g = f"{group}{name}"
    builder = registry[name].builder
    clear_plan_cache()
    # the star memo of the tree ``registry`` came from: sys.modules
    # holds the active tree's package
    importlib.import_module(f"{PKG}.sources.star")._STAR_CACHE.clear()
    spark.catalog.clearCache()
    stats.tag(f"{g}|build")
    t0 = time.perf_counter()
    df = builder(spark, sf)
    t1 = time.perf_counter()
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    t2 = time.perf_counter()
    plan = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    stats.tag(f"{g}|exec")
    t3 = time.perf_counter()
    noop(df)
    t4 = time.perf_counter()
    stats.tag(f"{g}|warm")
    again = builder(spark, sf)
    noop(again)
    warm = []
    for _ in range(runs):
        t = time.perf_counter()
        noop(again)
        warm.append(time.perf_counter() - t)
    totals = stats.group_totals()
    stages = {p: _group(totals, f"{g}|{p}") for p in ("build", "exec", "warm")}
    record = {
        "query": name,
        "cold_s": t2 - t0 + t4 - t3,
        "build_s": t1 - t0,
        "catalyst_s": t2 - t1,
        "exec_s": t4 - t3,
        "build_jobs": stages["build"]["jobs"],
        "warm_min_s": min(warm),
        "warm_median_s": statistics.median(warm),
        "memo_hit": again is df,
        "stages": stages,
        "plan": plan_summary(plan, qe),
    }
    for k in TIMINGS:
        record[k] = round(record[k], 3)
    return record, plan


def _median(values: list):
    """Field-wise median of records; non-numbers are taken from the
    first. A field only some records hold counts as 0 in the others: a
    job group that ran no job records ``{"jobs": 0}`` and no times."""
    first = values[0]
    if isinstance(first, dict):
        keys = dict.fromkeys(k for v in values for k in v)
        return {k: _median([v.get(k, 0) for v in values]) for k in keys}
    if isinstance(first, (int, float)) and not isinstance(first, bool):
        return statistics.median(values)
    return first


def main(argv: list[str] | None = None) -> int:
    from __spark_entry__ import SMOKE_SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", default=SMOKE_SF_DIR)
    ap.add_argument("--ab", type=Path, metavar="PINNED_TREE")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", type=Path, metavar="OUT_DIR")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args(argv)
    if args.runs < 1:
        ap.error("--runs must be at least 1")

    from bench import HEADLINE
    from sales_etl_spark.session import get_spark

    names = args.queries or HEADLINE
    roots = {"head": REPO}
    if args.ab:
        roots["pin"] = args.ab.resolve()
    sides = list(roots)
    trees = Trees(roots)
    if args.plans:
        args.plans.mkdir(parents=True, exist_ok=True)

    spark = get_spark("query-profile", shuffle_partitions=SHUFFLE_PARTITIONS)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        warm_up(spark, args.sf)
        stats = SparkStats(spark)
        rounds = args.runs if args.ab else 1
        for name in names:
            host = {"master": spark.sparkContext.master,
                    "nproc": len(os.sched_getaffinity(0)),
                    "loadavg": [round(x, 2) for x in os.getloadavg()]}
            records: dict[str, list] = {s: [] for s in sides}
            for i in range(rounds):
                for side in sides if i % 2 == 0 else sides[::-1]:
                    registry, clear = trees.activate(side)
                    group = f"{side}{i}:" if args.ab else ""
                    rec, plan = profile(spark, stats, registry, clear,
                                        name, args.sf, args.runs, group)
                    if args.plans and i == 0:
                        (args.plans / f"{name}_{side}.txt").write_text(plan)
                    records[side].append(rec)
            if not args.ab:
                print(json.dumps({**records["head"][0], "sf": args.sf,
                                  "host": host}), flush=True)
                continue
            med = {s: _median(records[s]) for s in sides}
            print(json.dumps({
                "query": name, "sf": args.sf, "rounds": rounds,
                "pin": str(roots["pin"]), "host": host, **med,
                "ratio": {k: round(med["head"][k] / med["pin"][k], 3)
                          if med["pin"][k] else None for k in TIMINGS},
            }), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""tools/query_profile.py: cold build jobs, the plan summary, and the
``--ab`` swap between two source trees."""

from __future__ import annotations

import itertools
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from conftest import SF_SMOKE  # noqa: E402
from perfbench.spark_stats import SparkStats  # noqa: E402
from sales_etl_spark.plans import QUERY_REGISTRY  # noqa: E402
from sales_etl_spark.plans.registry import clear_plan_cache  # noqa: E402
from test_plans import _formatted  # noqa: E402
from sales_etl_spark.sources.local import driver_table  # noqa: E402
from tools.query_profile import (  # noqa: E402
    _median,
    plan_summary,
    profile,
    warm_up,
)

SF = SF_SMOKE


@pytest.fixture(scope="module")
def run(spark):
    warm_up(spark, SF)
    stats = SparkStats(spark)
    calls = itertools.count()

    def run(name):
        record, _ = profile(spark, stats, QUERY_REGISTRY, clear_plan_cache,
                            name, SF, runs=1, group=f"test{next(calls)}:")
        return record

    yield run
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    spark.sparkContext.setLocalProperty("spark.job.description", None)


def test_build_jobs_count_jobs_run_while_building(run):
    bpe = run("text_bpe_train")
    assert bpe["build_jobs"] > 0, bpe
    # a cold build loads lineitem and orders afresh: one schema-read
    # job each, and no other job
    summary = run("agg_sales_summary")
    assert summary["build_jobs"] <= 2, summary
    assert summary["stages"]["exec"]["jobs"] >= 1, summary
    assert summary["memo_hit"] is True
    assert summary["cold_s"] >= summary["build_s"] + summary["exec_s"]


def test_every_cold_build_pays_the_same_schema_reads(run):
    """Each profile starts from an empty star memo, so two profiles in
    a row count the same build jobs: the star tables' schema reads are
    paid in every round, not only by the first query to load them."""
    from sales_etl_spark.sources import star

    star._STAR_CACHE.clear()
    first = run("agg_sales_summary")["build_jobs"]
    assert first > 0
    assert run("agg_sales_summary")["build_jobs"] == first


@pytest.mark.parametrize("name", ["agg_sales_summary", "dedup_ngram_jaccard"])
def test_plan_summary_counts_exchanges_like_the_plan_tests(spark, run, name):
    got = run(name)["plan"]
    clear_plan_cache()
    spark.catalog.clearCache()
    body = _formatted(QUERY_REGISTRY[name].builder(spark, SF)).split(
        "== Physical Plan ==")[1]
    want = len(re.findall(r"\(\d+\) Exchange", body))
    assert want > 0
    assert got["exchanges"] == want, got
    assert got["scan_cols"] and all(n > 0 for n in got["scan_cols"]), got


def test_plan_summary_counts_python_rdd_scans(spark):
    """A Python-list frame runs Python workers on every execution but
    shows only as ``Scan ExistingRDD``; the summary counts it from the
    optimized plan's leaves, and an Arrow local relation not at all."""
    ddl = "k int, v string"
    listed = spark.createDataFrame([(1, "a")], ddl)
    local = driver_table(spark, [(2, "b")], ddl)
    for df, want in ((listed, {"PythonRDD": 1}), (local, {}),
                     (listed.unionByName(local), {"PythonRDD": 1})):
        got = plan_summary(_formatted(df), df._jdf.queryExecution())
        assert got["python"] == want, got


def test_median_counts_a_stage_field_missing_in_one_round_as_zero():
    """An ``--ab`` round whose build ran no job records only
    ``{"jobs": 0}``; the per-side median must still take every round."""
    rounds = [{"build": {"jobs": 1, "job_s": 0.5}, "q": "x"},
              {"build": {"jobs": 0}, "q": "x"},
              {"build": {"jobs": 1, "job_s": 0.3}, "q": "x"}]
    for order in (rounds, rounds[::-1], rounds[1:] + rounds[:1]):
        assert _median(order) == {"build": {"jobs": 1, "job_s": 0.3},
                                  "q": "x"}


def test_ab_swap_imports_each_side_from_its_own_tree(tmp_path):
    """In a fresh interpreter, so this session's modules stay as they
    are: after every switch the registry's builders, its plan memo and
    the modules builders import lazily all come from the active tree;
    then one ``--ab`` run reports both sides."""
    pin = tmp_path / "pin"
    shutil.copytree(REPO / "sales_etl_spark", pin / "sales_etl_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    script = f"""
import inspect, sys
from pathlib import Path
sys.path.insert(0, {str(REPO)!r})
from tools.query_profile import Trees, main
roots = {{"head": Path({str(REPO)!r}), "pin": Path({str(pin)!r})}}
trees = Trees(roots)
for side in ("pin", "head", "pin", "head"):
    registry, clear = trees.activate(side)
    pkg = roots[side] / "sales_etl_spark"
    files = [
        inspect.getfile(registry["text_bpe_train"].builder.__wrapped__),
        inspect.getfile(clear),
        sys.modules["sales_etl_spark.operators.skew"].__file__,
    ]
    for f in files:
        assert Path(f).is_relative_to(pkg), (side, f)
main(["--sf", {SF!r}, "--ab", {str(pin)!r}, "--runs", "1",
      "agg_sales_summary"])
"""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2",
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run([sys.executable, "-c", script], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    [line] = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    out = json.loads(line)
    assert out["head"]["plan"] == out["pin"]["plan"]
    assert out["head"]["build_jobs"] == out["pin"]["build_jobs"]
    assert set(out["ratio"]) >= {"cold_s", "warm_median_s"}

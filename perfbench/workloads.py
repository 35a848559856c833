"""The benchmark's workloads, driven as one closed-loop client.

Each operation starts only after the previous one returned. Every
call into the engine is timed from outside, through the public
functions of ``sources``, ``pipeline``, ``plans``, ``lake`` and
``tools.engine_digest``; with tracing on, Spark's own job and stage
metrics are attributed to the operation through job groups.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from spark_stats import SparkStats
from tracing import Tracer

#: Star-join, aggregate and window queries: JVM-only work. Runnable
#: with ``--workload relational_mix`` but not in ``BENCHMARK.json``:
#: three workloads do not fit the benchmark's total time budget.
RELATIONAL_MIX = [
    "flagship_pricing_summary",
    "flagship_shipping_priority",
    "flagship_product_profit",
    "flagship_market_share",
    "flagship_min_cost_supplier",
    "agg_rfm_segments",
    "agg_percentile_cont",
    "events_funnel",
    "events_cohort_retention",
    "window_running_sum",
    "join_asof_prior_purchase",
    "mart_snapshot_diff",
]

#: LLM-data operators: the five builders that run Spark jobs while
#: building (PQ codebooks, IVF centroids, BPE merges, tokenizer
#: training, perceptual label propagation). The last also runs the
#: cached, Python-decoded perceptual pair join.
LLM_OPS_MIX = [
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "text_bpe_train",
    "tokenize_pipeline_e2e",
    "perceptual_cluster_resolve",
]

MIXES = {"relational_mix": RELATIONAL_MIX, "llm_ops_mix": LLM_OPS_MIX}

#: Timed warm executions per query, and warm ETL re-runs: at least this
#: many, more while the share of ``--seconds`` lasts, never more than
#: the cap.
WARM_MIN, WARM_MAX = 4, 15

#: Snapshot date the ETL's customer_days is computed against.
SNAPSHOT = dt.date(2025, 1, 1)

ETL_TABLES = ("sales", "customers", "sales_summary", "product_ranking")

#: exec.* fields summed from the per-group REST totals.
EXEC_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Op:
    """One attempted operation; fails at most once."""

    def __init__(self, run: Run, name: str):
        self.run, self.name, self.failed = run, name, False

    def check(self, ok: bool, why: str) -> None:
        if not ok and not self.failed:
            self.failed = True
            self.run.failed += 1
            log(f"FAILED {self.name}: {why}")


@dataclass
class Run:
    spark: object
    tracer: Tracer
    stats: SparkStats | None  # None unless traced
    seconds: float
    corrupt: bool  # deliberately wrong expected result, to test checks
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    def tag(self, group: str) -> None:
        if self.stats is not None:
            self.stats.tag(group)

    @contextmanager
    def op(self, name: str):
        """Count an operation; an exception fails it and propagates."""
        o = Op(self, name)
        self.attempted += 1
        try:
            yield o
        except Exception:
            o.check(False, traceback.format_exc())
            raise


def noop(df) -> None:
    """Execute the full physical plan without collecting its rows."""
    df.write.format("noop").mode("overwrite").save()


def _exec_totals(totals: dict, groups: list[str]) -> dict:
    return {
        f"exec.{k}": sum(totals.get(g, {}).get(k, 0.0) for g in groups)
        for k in EXEC_FIELDS
    }


# -- query mixes -------------------------------------------------------


def query_mix(run: Run, names: list[str], star_dir: Path, expected: dict) -> None:
    """Each query cold (fresh plan memo, empty cache: build + execute),
    then warm (memo hit, timed executions), in the fixed order of
    ``names``: the first query of a run pays for first use of shared
    code (measured up to 6 s more), so a seeded order would move seconds
    between queries and swamp the sums."""
    from sales_etl_spark.plans import QUERY_REGISTRY
    from sales_etl_spark.plans.registry import clear_plan_cache

    if run.corrupt:
        n, h1, h2 = expected[names[0]]
        expected = {**expected, names[0]: [n + 1, h1, h2]}
    share = run.seconds / len(names)
    done: dict[str, dict] = {}
    with run.tracer.span("workload", "query_mix"):
        for name in names:
            builder = QUERY_REGISTRY[name].builder
            try:
                with run.op(name) as op, run.tracer.span("query", name):
                    clear_plan_cache()
                    run.spark.catalog.clearCache()
                    done[name] = _one_query(
                        run, op, name, builder, str(star_dir),
                        expected[name], share,
                    )
            except Exception:
                continue

    cold = sum(q["build_s"] + q["exec_s"] for q in done.values())
    warm = sum(q["warm_s"] for q in done.values())
    run.e2e.update(cold_total_s=cold, warm_total_s=warm)
    lay = run.layer
    for n, q in done.items():
        lay[f"query.{n}.cold_s"] = q["build_s"] + q["exec_s"]
        lay[f"query.{n}.warm_s"] = q["warm_s"]
    if run.stats is None:
        return
    totals = run.stats.group_totals()
    lay.update(_exec_totals(totals, [f"{n}|exec" for n in done]))
    lay["exec.s"] = sum(q["exec_s"] for q in done.values())
    lay["exec.cached_mb"] = max((q["cached_mb"] for q in done.values()), default=0.0)
    lay["plans.build_s"] = sum(q["build_s"] for q in done.values())
    lay["plans.build_jobs"] = sum(
        totals.get(f"{n}|build", {}).get("jobs", 0) for n in done
    )
    lay["plans.build_jobs_s"] = sum(
        totals.get(f"{n}|build", {}).get("job_s", 0.0) for n in done
    )
    lay["plans.memo_hit_build_s"] = sum(q["memo_s"] for q in done.values())
    lay["plans.memo_hit_ratio"] = (
        sum(q["memo_hit"] for q in done.values()) / len(done) if done else 0.0
    )
    lay["catalyst.plan_s"] = sum(q["plan_s"] for q in done.values())
    for n in done:
        lay[f"query.{n}.build_jobs"] = totals.get(f"{n}|build", {}).get("jobs", 0)
    lay["trace.cold_total_s"] = cold
    lay["trace.warm_total_s"] = warm


def _one_query(
    run: Run, op: Op, name: str, builder, star: str, expected: list,
    share: float,
) -> dict:
    """Cold build + execute; memo-hit build; one untimed digest, which
    is checked against the oracle and warms the plan; then the timed
    warm executions."""
    from tools.engine_digest import spark_digest

    tr = run.tracer
    run.tag(f"{name}|build")
    with tr.span("plans.build", name) as build:
        df = builder(run.spark, star)
    plan_s = 0.0
    if run.stats is not None:
        with tr.span("catalyst.plan", name) as plan:
            df._jdf.queryExecution().executedPlan()
        plan_s = plan["s"]
    run.tag(f"{name}|exec")
    with tr.span("exec", name) as ex:
        noop(df)
    run.tag(f"{name}|warm")
    with tr.span("plans.memo_hit_build", name) as memo:
        again = builder(run.spark, star)
    with tr.span("check", name):
        got = spark_digest(again)
    op.check(
        got is not None and [int(got[0]), str(got[1]), str(got[2])] == expected,
        f"digest {got} != oracle {expected}",
    )
    warm: list[float] = []
    stop = time.perf_counter() + share
    while len(warm) < WARM_MIN or (
        len(warm) < WARM_MAX and time.perf_counter() < stop
    ):
        with tr.span("exec.warm", name) as w:
            noop(again)
        warm.append(w["s"])
    cached = run.stats.cached_mb() if run.stats is not None else 0.0
    return {
        "build_s": build["s"],
        "plan_s": plan_s,
        "exec_s": ex["s"],
        "memo_s": memo["s"],
        "memo_hit": again is df,
        "warm_s": statistics.median(warm),
        "cached_mb": cached,
    }


# -- etl_reference -----------------------------------------------------


def etl_reference(run: Run, inputs: Path, out_root: Path) -> None:
    """The reference ETL as a user runs it, once in a fresh process:
    CSV readers -> run_pipeline -> report collect -> four overwrite
    commits into empty lake tables (``etl_s``) -> MERGE of a customer
    delta (``upsert_s``), every loaded table read back and checked.
    Then the warm re-run on the already-built, cached frames: the
    report, the four commits and the MERGE again, ``WARM_MIN`` times or
    more while ``--seconds`` lasts; its median is ``warm_total_s``."""
    expected = json.loads((inputs / "expected.json").read_text())
    if run.corrupt:
        expected["sales_rows"] += 1
    shutil.rmtree(out_root, ignore_errors=True)
    t: dict[str, float] = {}
    warm: list[float] = []
    with run.tracer.span("workload", "etl_reference"):
        try:
            _etl(run, inputs, expected, out_root, t, warm)
        except Exception:
            pass  # counted as a failed operation; report what completed
        finally:
            shutil.rmtree(out_root, ignore_errors=True)
    if "upsert_s" not in t or not warm:
        return

    run.e2e.update(
        cold_total_s=t["etl_s"] + t["upsert_s"],
        warm_total_s=statistics.median(warm),
    )
    if run.stats is None:
        return
    totals = run.stats.group_totals()
    lay = run.layer
    lay.update(_exec_totals(
        totals, [f"etl|{g}" for g in ("read", "pipeline", "report", "commit", "merge")]
    ))
    lay["sources.probe_jobs"] = totals.get("etl|read", {}).get("jobs", 0)
    for key in (
        "sources.read_csv_s", "pipeline.run_pipeline_s", "report.collect_s",
        "lake.commit_write_s", "lake.merge_into_s", "lake.files_written",
        "lake.bytes_written", "lake.merge_bytes_written", "exec.s",
        "exec.cached_mb",
    ):
        lay[key] = t[key]
    in_bytes = sum((inputs / f).stat().st_size for f in ("sales.csv", "customers.csv"))
    lay["lake.bytes_written_per_input_byte"] = t["lake.bytes_written"] / in_bytes
    lay["etl.etl_s"] = t["etl_s"]
    lay["etl.upsert_s"] = t["upsert_s"]
    lay["etl.rows_per_s"] = expected["input_rows"] / t["etl_s"]
    lay["trace.cold_total_s"] = run.e2e["cold_total_s"]
    lay["trace.warm_total_s"] = run.e2e["warm_total_s"]


def _table_files(table: Path) -> dict[str, int]:
    return {
        str(p): p.stat().st_size
        for sub in ("data", "deletes") if (table / sub).is_dir()
        for p in (table / sub).glob("*.parquet")
    }


def _fsck(op: Op, root: Path) -> None:
    from sales_etl_spark import lake

    for name in ETL_TABLES:
        report = lake.fsck(str(root / name))
        op.check(report["ok"], f"fsck {root / name}: {report}")


def _etl(
    run: Run, inputs: Path, expected: dict, out: Path, t: dict, warm: list,
) -> None:
    """The ETL and its warm re-runs; fills ``t`` with the timings of the
    ETL and ``warm`` with the seconds of each warm re-run."""
    from sales_etl_spark import lake
    from sales_etl_spark.pipeline import run_pipeline, transform_customers
    from sales_etl_spark.sources.readers import read_customers_csv, read_sales_csv

    spark, tr = run.spark, run.tracer
    run.tag("etl|read")
    with run.op("read_csv"), tr.span("sources.read_csv") as s:
        sales = read_sales_csv(spark, str(inputs / "sales.csv"))
        customers = read_customers_csv(spark, str(inputs / "customers.csv"))
    t["sources.read_csv_s"] = s["s"]
    run.tag("etl|pipeline")
    with run.op("run_pipeline"), tr.span("pipeline.run_pipeline") as s:
        res = run_pipeline(spark, sales, customers, SNAPSHOT, top_n=5)
    t["pipeline.run_pipeline_s"] = s["s"]
    try:
        run.tag("etl|report")
        with run.op("report") as op:
            with tr.span("report.collect") as s:
                report = res.avg_check_by_region.collect()
            _check_report(op, report, expected)
        t["report.collect_s"] = s["s"]
        t["exec.cached_mb"] = run.stats.cached_mb() if run.stats else 0.0
        marts = {
            "sales": res.sales,
            "customers": res.customers,
            "sales_summary": res.sales_summary,
            "product_ranking": res.product_ranking,
        }
        t["lake.commit_write_s"] = 0.0
        run.tag("etl|commit")
        for name, df in marts.items():
            with run.op(f"commit_{name}"), tr.span("lake.commit_write", name) as s:
                lake.commit_write(df, str(out / "cold" / name), mode="overwrite")
            t["lake.commit_write_s"] += s["s"]
        written = {}
        for name in ETL_TABLES:
            written.update(_table_files(out / "cold" / name))
        t["lake.files_written"] = len(written)
        t["lake.bytes_written"] = sum(written.values())
        t["etl_s"] = (
            t["sources.read_csv_s"] + t["pipeline.run_pipeline_s"]
            + t["report.collect_s"] + t["lake.commit_write_s"]
        )

        run.tag("etl|delta")
        delta = transform_customers(
            read_customers_csv(spark, str(inputs / "customers_delta.csv")),
            SNAPSHOT,
        )
        run.tag("etl|merge")
        with run.op("merge_into") as op:
            with tr.span("lake.merge_into") as s:
                lake.merge_into(spark, str(out / "cold" / "customers"), delta,
                                ["customer_id"])
            run.tag("etl|check")
            _check_tables(run, op, out / "cold", expected)
            _fsck(op, out / "cold")
        after = _table_files(out / "cold" / "customers")
        t["lake.merge_bytes_written"] = sum(
            size for p, size in after.items() if p not in written
        )
        t["exec.s"] = t["report.collect_s"] + t["lake.commit_write_s"] + s["s"]
        t["upsert_s"] = t["lake.merge_into_s"] = s["s"]

        run.tag("etl|warm")
        stop = time.perf_counter() + run.seconds
        while len(warm) < WARM_MIN or (
            len(warm) < WARM_MAX and time.perf_counter() < stop
        ):
            dst = out / f"warm{len(warm)}"
            with tr.span("etl.warm") as w:
                with run.op("warm_report"):
                    report = res.avg_check_by_region.collect()
                for name, df in marts.items():
                    with run.op(f"warm_commit_{name}"):
                        lake.commit_write(df, str(dst / name), mode="overwrite")
                with run.op("warm_merge_into"):
                    lake.merge_into(spark, str(dst / "customers"), delta,
                                    ["customer_id"])
            warm.append(w["s"])
            with run.op("warm_check") as op:
                _check_report(op, report, expected)
                _fsck(op, dst)
    finally:
        res.unpersist()


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)


def _check_report(op: Op, rows, expected: dict) -> None:
    got = {r["region"]: (r["orders_count"], r["avg_check"]) for r in rows}
    want = expected["region_orders"]
    op.check(set(got) == set(want), f"regions {sorted(got)} != {sorted(want)}")
    for region, (n, cents) in want.items():
        g = got.get(region)
        op.check(
            g is not None and g[0] == n and _close(g[1], cents / 100 / n),
            f"avg check {region}: {g} != {(n, cents / 100 / n)}",
        )


def _check_tables(run: Run, op: Op, root: Path, expected: dict) -> None:
    """Read every loaded table back through the lake and compare it
    with the generator's expected results."""
    from sales_etl_spark import lake

    spark = run.spark
    n = lake.read_table(spark, str(root / "sales")).count()
    op.check(n == expected["sales_rows"], f"sales rows {n} != {expected['sales_rows']}")

    want = expected["summary"]
    got = {}
    for r in lake.read_table(spark, str(root / "sales_summary")).collect():
        got[f"{r['category']}|{r['month']}"] = r
    op.check(set(got) == set(want), "sales_summary groups differ")
    for key, (cents, qty, orders) in want.items():
        r = got.get(key)
        op.check(
            r is not None
            and round(r["total_sales"] * 100) == cents
            and r["total_quantity"] == qty
            and _close(r["average_order_value"], cents / 100 / orders)
            and r["period_date"].isoformat() == key.split("|")[1] + "-01",
            f"sales_summary {key}: {r} != {(cents, qty, orders)}",
        )

    ranking = lake.read_table(spark, str(root / "product_ranking")).collect()
    top = [r["product_id"] for r in sorted(ranking, key=lambda r: r["rank_position"])]
    op.check(top == expected["top_products"], f"top products {top}")

    got_c = {
        r["customer_id"]: [
            r["customer_name"], r["email"],
            r["registration_date"].isoformat() if r["registration_date"] else None,
            r["region"], r["is_email_valid"], r["customer_days"],
        ]
        for r in lake.read_table(spark, str(root / "customers")).collect()
    }
    want_c = expected["customers_after_merge"]
    bad = [k for k in want_c.keys() | got_c.keys() if got_c.get(k) != want_c.get(k)]
    op.check(not bad, f"{len(bad)} customer rows differ after MERGE, e.g. "
             f"{[(k, got_c.get(k), want_c.get(k)) for k in bad[:3]]}")

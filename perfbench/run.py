"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload relational_mix --seed 3 \\
        --seconds 10 --trace 0

Run from the repository root. Workloads and metrics are listed in
``BENCHMARK.json``; ``perfbench/README.md`` says what each one measures.
With ``--trace 0`` the last stdout line carries every end-to-end
metric; with ``--trace 1`` every per-layer metric, and the spans are
written to ``perfbench/.work/traces/``. Inputs are generated from the
seed under ``perfbench/.work/`` and reused by later runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

#: Scale of the generated star schema for the query mixes (fixed, like
#: their query order: the seed only picks the ETL input) and sales rows
#: per seeded ETL input.
STAR_SCALE = 0.01
ETL_ROWS = 100_000
#: Star tables each mix's builders read; the set-up reads their footers.
MIX_TABLES = {"llm_ops_mix": ("documents", "embeddings")}
#: Smaller inputs for the smoke test (``--tiny``).
TINY_STAR_SCALE, TINY_ETL_ROWS = 0.001, 5_000

SHUFFLE_PARTITIONS = 8
#: Spark's task slots, and the CPU count the JVM sizes its JIT-compiler
#: and GC thread pools for, as a share of the CPUs this process may use.
#: Half leaves a CPU free for the Py4J round trips the plan builders
#: wait on: with every CPU in use, CPU steal on a busy host slowed cold
#: queries up to 3x. At these input sizes the cold ``llm_ops_mix`` pass
#: takes within 3% of its time on every CPU.
CPU_SHARE = 0.5
#: Driver heap: this share of the memory limit, within these bounds.
HEAP_SHARE, HEAP_MIN_MB, HEAP_MAX_MB = 0.4, 512, 2048


def memory_limit_mb() -> float:
    """The smaller of the cgroup memory limit and MemAvailable."""
    limits = []
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            text = Path(path).read_text().strip()
        except OSError:
            continue
        if text.isdigit() and int(text) < 1 << 60:
            limits.append(int(text) / 2**20)
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                limits.append(int(line.split()[1]) / 1024)
    return min(limits)


def context() -> dict:
    """What tells a contended run: load, and the CPU time the hypervisor
    gave to other guests (steal) since boot."""
    with open("/proc/stat") as f:
        steal_ticks = int(f.readline().split()[8])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        "steal_s": steal_ticks / os.sysconf("SC_CLK_TCK"),
        "time": time.time(),
    }


def configure_env(cpus: int, heap_mb: int, trace: bool) -> None:
    """Everything the JVM reads at launch, pinned before it starts."""
    from spark_stats import HEARTBEAT_S, POLL_MS

    # Traced runs only: memory peaks polled often, reported by each
    # heartbeat.
    memory_polling = [
        f"--conf spark.executor.metrics.pollingInterval={POLL_MS}ms",
        f"--conf spark.executor.heartbeatInterval={round(HEARTBEAT_S * 1000)}ms",
    ] if trace else []
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(tmp),
        # Few malloc arenas, so the JVM's native footprint repeats.
        "MALLOC_ARENA_MAX": "2",
        # Python workers import the package from the checkout.
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            # A fixed heap size: the JVM does not resize it run by run.
            f'--driver-java-options "-Xms{heap_mb}m -Djava.io.tmpdir={tmp}'
            f' -XX:ActiveProcessorCount={cpus} -XX:-UsePerfData"',
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            *memory_polling,
            "pyspark-shell",
        ]),
    })


def start_session(tracer, star_dir: Path | None, tables: tuple[str, ...]):
    """JVM launch and get_spark, plus the JVM and parquet-footer
    warm-up of ``tables``: what a user pays once per process."""
    from sales_etl_spark.session import get_spark

    with tracer.span("session.setup") as setup:
        with tracer.span("session.get_spark") as gs:
            spark = get_spark(
                "perfbench", shuffle_partitions=SHUFFLE_PARTITIONS
            )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        for t in tables:
            spark.read.parquet(str(star_dir / f"{t}.parquet")).count()
    return spark, setup["s"], gs["s"]


def stop_jvm() -> None:
    """Stop Spark, end the gateway JVM and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from spark_stats import child_pids

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    children = child_pids(proc.pid)
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(60)
    except Exception:
        proc.kill()
        proc.wait(30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = [p for p in children if Path(f"/proc/{p}").exists()]
        time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test sizes (star sf0.001, small CSV)")
    p.add_argument("--corrupt-check", action="store_true",
                   help="use a wrong expected result; the run must fail")
    args = p.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path[:0] = [str(HERE), str(ROOT)]
    import workloads as W

    if args.workload != "etl_reference" and args.workload not in W.MIXES:
        p.error(f"unknown workload {args.workload}")
    # Fail before any set-up when the engine is not in the checkout.
    if args.workload == "etl_reference":
        import sales_etl_spark.pipeline  # noqa: F401
    else:
        import sales_etl_spark.plans  # noqa: F401

    from oracle import oracle_digests
    from spark_stats import SparkStats, jvm_pid, peak_memory_mb, peak_rss_mb
    from tracing import Tracer

    start_ctx = context()
    cpus = max(1, int(start_ctx["nproc"] * CPU_SHARE))
    heap_mb = int(min(HEAP_MAX_MB, max(HEAP_MIN_MB, HEAP_SHARE * memory_limit_mb())))
    configure_env(cpus, heap_mb, bool(args.trace))

    # Preparation, not set-up: inputs and oracle answers.
    t_prepare = time.perf_counter()
    star_dir, tables = None, ()
    if args.workload == "etl_reference":
        from gen_etl import write_inputs

        rows = TINY_ETL_ROWS if args.tiny else ETL_ROWS
        inputs = write_inputs(WORK / "etl", args.seed, rows)
    else:
        from gen_star import write_star

        scale = TINY_STAR_SCALE if args.tiny else STAR_SCALE
        star_dir = write_star(WORK / f"star-{scale}", scale)
        names = W.MIXES[args.workload]
        tables = MIX_TABLES.get(
            args.workload, tuple(sorted(p.stem for p in star_dir.glob("*.parquet")))
        )
        expected = oracle_digests(star_dir, names, cpus)

    prepare_s = time.perf_counter() - t_prepare
    tracer = Tracer(enabled=bool(args.trace))
    try:
        spark, setup_s, get_spark_s = start_session(tracer, star_dir, tables)
        pid = jvm_pid()
        run = W.Run(
            spark=spark, tracer=tracer,
            stats=SparkStats(spark) if args.trace else None,
            seconds=args.seconds, corrupt=args.corrupt_check,
        )
        if args.workload == "etl_reference":
            W.etl_reference(run, inputs, WORK / "etl-out")
        else:
            W.query_mix(run, names, star_dir, expected)
        rss_mb = peak_rss_mb(pid)
        memory = peak_memory_mb(spark) if args.trace else {}
    finally:
        stop_jvm()

    e2e = {"setup_s": setup_s, "driver_peak_rss_mb": rss_mb, **run.e2e}
    layer = {m["name"]: 0.0 for m in spec["per_layer"]}
    layer.update(run.layer)
    layer["session.get_spark_s"] = get_spark_s
    layer.update({f"memory.peak_{k}": v for k, v in memory.items()})
    layer["failed_ops_ratio"] = run.failed / max(1, run.attempted)
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    missing = [m["name"] for m in chosen if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "heap_mb": heap_mb, "cpus": cpus, "start": start_ctx, "end": context(),
        "prepare_s": prepare_s, "get_spark_s": get_spark_s, "memory": memory,
        "e2e": e2e, "layer": run.layer,
    }
    log_dir = WORK / "runs"
    log_dir.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (log_dir / f"{name}.json").write_text(json.dumps(record, indent=1))
    if args.trace:
        untraced = log_dir / f"{args.workload}-seed{args.seed}-trace0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["e2e"]
            record["trace_overhead_s"] = {
                k: run.layer[f"trace.{k}"] - base[k]
                for k in ("cold_total_s", "warm_total_s")
            }
        tracer.write(WORK / "traces" / f"{name}.json", record)
    W.log(json.dumps({k: record[k] for k in ("heap_mb", "cpus", "start", "end")}))
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in chosen
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""SparkSession construction and runtime-semantics pinning.

The engine assumes a few session-level semantics (null-on-error casts,
null on divide-by-zero, UTC session time) that Spark 4.x no longer
guarantees by default (ANSI mode is on by default since 4.0). Every
public query entry point calls :func:`pin_semantics` so results are
identical no matter who built the session (our tests, the driver
harness, or a production spark-submit).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

#: Confs that are safe (and required) to set on a live session.
_RUNTIME_CONFS = {
    # Reference-parity semantics: to_date/casts yield NULL on bad input
    # (pandas errors="coerce", etl/transform.py:20,63 in the reference)
    # and x/0 yields NULL (etl/transform.py:111-112).
    "spark.sql.ansi.enabled": "false",
    # Deterministic date/timestamp rendering; testdata timestamps are NTZ.
    "spark.sql.session.timeZone": "UTC",
    # The driver's events.parquet carries TIMESTAMP(NANOS), which the
    # vectorized reader rejects; read as long nanos and normalize in
    # sources/star.py (exact integer µs division, no double rounding).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate synthesizes `size(gen_input) > 0` above
    # every explode; when the generator input is a computed shingle /
    # chunk array, PushDownPredicates then substitutes the FULL
    # tokenize+hash expression into a scan-level filter, doubling the
    # scan-stage CPU of every text operator (measured: the decontam
    # gram pass re-ran regexp_extract_all + xxhash64 per row in both
    # Filter and Project). The inference only pre-prunes rows the
    # Generate would skip anyway — dropping it is free.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}

#: Confs that must be set at session build time.
_BUILD_CONFS = {
    # AQE: runtime partition coalescing, skew-join splitting, dynamic
    # join-strategy switch — the main 100 TB levers that cost nothing
    # locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the few pandas-UDF operators (multimodal stubs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (region/nation/customer at test SFs) broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Managed-table warehouse for bucketed tables (sources/bucketed.py);
    # out of the repo tree so test runs never dirty the working copy.
    "spark.sql.warehouse.dir": "/tmp/sales_etl_spark_warehouse",
}


def pin_semantics(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable semantics on an existing session.

    Idempotent and cheap; called at the top of every query builder so
    the engine behaves identically under any caller's session.
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            # A locked-down session (static conf) — semantics then
            # follow the caller. Relational paths use try_*-safe forms,
            # but the minhash/simhash signature operators REQUIRE
            # non-ANSI 64-bit wrap-around and assert it themselves
            # (operators/dedup.py:_require_wraparound).
            log.warning("pin_semantics: cannot set %s=%s: %r", key, value, exc)
    return spark


#: Known locations of a pure-Python google.protobuf when the package
#: is not pip-installed (trimmed containers): an explicit override
#: first, then copies bundled with commonly-present system tooling.
_PROTOBUF_FALLBACKS = (
    os.environ.get("SPARK_ETL_PROTOBUF_PATH"),
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable if at all possible.

    ``transformWithStateInPandas``'s Python runtime (driver AND the
    late-spawned Python workers) needs protobuf descriptors; some
    trimmed environments ship PySpark without it. Try the plain
    import; otherwise probe ``_PROTOBUF_FALLBACKS`` and, on a hit,
    extend ``sys.path`` for this process and export ``PYTHONPATH`` so
    Python workers forked after the next session build inherit it.
    Returns availability — callers gate, never crash (the
    semantics-identical ``applyInPandasWithState`` funnel runs
    everywhere regardless)."""
    import importlib
    import sys
    from pathlib import Path

    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    for p in _PROTOBUF_FALLBACKS:
        if not p or not Path(p, "google", "protobuf", "__init__.py").exists():
            continue
        if p not in sys.path:
            sys.path.insert(0, p)
        existing = os.environ.get("PYTHONPATH", "")
        if p not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                p + os.pathsep + existing if existing else p
            )
        importlib.invalidate_caches()
        try:
            import google.protobuf  # noqa: F401
        except ImportError:
            continue
        # Fallback copies can trail the version PySpark's generated
        # descriptors were built with by a minor release (e.g. 6.32
        # runtime vs 6.33 gencode), which the runtime rejects by
        # POLICY, not wire incompatibility. Use protobuf's own
        # documented escape hatch — scoped here to the
        # vendored-fallback path only; a properly installed protobuf
        # never reaches this branch. Exported to os.environ so the
        # JVM-spawned streaming Python workers inherit it too.
        os.environ.setdefault(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
        )
        return True
    return False


#: Local-mode driver heap bounds (MiB). The cap is the heap the
#: 128 GiB bench box was tuned with; the floor is Spark's own default.
_DRIVER_MEM_MIN_MB = 1024
_DRIVER_MEM_MAX_MB = 24 * 1024


def available_memory_mb() -> float:
    """The smaller of the cgroup memory limit and ``MemAvailable``
    (MiB); whichever is unreadable is skipped, and with neither (no
    ``/proc``) the answer sizes the heap at its 24 GiB cap."""
    limits = []
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                text = f.read().strip()
        except OSError:
            continue
        if text.isdigit() and int(text) < 1 << 60:  # v1 "no limit" is ~2^63
            limits.append(int(text) / 2**20)
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    limits.append(int(line.split()[1]) / 1024)
    except OSError:
        pass
    return min(limits, default=float(_DRIVER_MEM_MAX_MB * 2))


def local_driver_memory() -> str:
    """``spark.driver.memory`` for local mode: half the memory the
    process can actually get, within 1–24 GiB. The other half is left
    for the JVM's native memory, the Python driver and its workers —
    a fixed 24g heap let the JVM grow past a 15 GiB box and be
    OOM-killed mid-run."""
    half = int(available_memory_mb() / 2)
    return f"{max(_DRIVER_MEM_MIN_MB, min(_DRIVER_MEM_MAX_MB, half))}m"


def get_spark(
    app_name: str = "sales-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` when no
    cluster is configured. ``shuffle_partitions`` defaults to the
    parallelism of the master in local mode; on a real cluster leave it
    unset and let AQE coalesce from a high initial number. The local
    driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` when set, else
    :func:`local_driver_memory`.
    """
    # Export the protobuf fallback onto PYTHONPATH BEFORE the JVM
    # gateway starts: Python workers inherit the JVM's environment, so
    # doing this after getOrCreate would fix the driver but leave
    # transformWithStateInPandas workers without descriptors.
    ensure_protobuf()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    for key, value in _BUILD_CONFS.items():
        builder = builder.config(key, value)
    if master and master.startswith("local"):
        # Local-mode scan parallelism: bench/test SFs are single
        # ~10 MB parquet files, which the default 128 MB split maps to
        # 1-3 partitions — 30 of 32 cores idle through every scan
        # (measured: the dominant cost of sub-second queries). 1 MB
        # splits fan the file across cores; row-group alignment keeps
        # actual reads correct. On a real cluster the default stands:
        # 100 TB inputs produce ample splits at 128 MB, and tiny-file
        # over-splitting there is the opposite failure mode.
        builder = builder.config("spark.sql.files.maxPartitionBytes", "1m")
        # In local mode the driver JVM IS every executor, yet Spark's
        # default driver heap is 1g — on a 128 GiB / 32-thread box
        # that manifested as GC-locker stalls under bench load and, in
        # full-registry sweeps (190+ queries, one session), spurious
        # "Not enough memory to build and broadcast" failures on late
        # queries that pass in a fresh session. Only effective at JVM
        # launch; a real cluster sets executor/driver memory itself.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or local_driver_memory(),
        )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    spark = builder.getOrCreate()
    return pin_semantics(spark)

"""Named-query registry backing ``__spark_entry__.py``.

Every operator the engine claims is registered here twice over: a
Spark builder and (where ANSI SQL can express it) a DuckDB oracle.
Column names are part of the contract — the driver's comparator sorts
columns by name and hashes values, so builders alias every computed
column and oracles use the identical ``AS`` names.

Determinism rules all builders/oracles follow (so value-hashes match
between a distributed Spark plan and single-threaded DuckDB):

- money/metric sums go through DECIMAL — exact, order-independent;
- double division only on already-exact operands (both engines then
  produce the identical IEEE result);
- any top-k / keep-one selection carries a full deterministic
  tiebreaker (unique key last in the sort order);
- no wall-clock (`today()`) — snapshot dates are literals;
- NEVER decimal-round() a double for cross-engine agreement: Spark
  rounds the exact decimal expansion (BigDecimal HALF_UP), DuckDB
  rounds in scaled double arithmetic, and the two disagree near .5
  boundaries of the target digit (bit sf0.1's text_lm_score). To
  collapse transcendental-ulp drift use the IDENTICAL IEEE sequence
  in both engines — floor(x*1e6 + 0.5) into integer micro-units.
  round(a/b, 6) over EXACT-integer a, b has so far agreed at three
  scales but carries the same latent hazard; prefer raw division of
  exact operands when adding queries.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import zipfile
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QueryDef:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL twin; None → rows-only check
    doc: str = ""


QUERY_REGISTRY: dict[str, QueryDef] = {}


#: Built-plan memo: (applicationId, query name, abspath(sf_dir)) →
#: DataFrame. DataFrames are immutable lazy plans, so handing the same
#: plan object back is semantics-free — but it removes the per-call
#: Python/Py4J plan-construction latency (measured 0.13-0.5 s per mart
#: under load, a third of sub-second query wall time). Real
#: deployments build a query once and execute it many times; the memo
#: gives the bench/driver loop the same cost profile. Keyed on
#: applicationId so a new session (new JVM state, new conf) never
#: reuses a stale plan.
_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def clear_plan_cache() -> None:
    """Drop every memoized plan so the next builder call re-runs the
    builder body. Harnesses that interleave ``clearCache()`` with
    repeated measurement passes call this at the top of each pass:
    builders re-register their operator-internal ``cache()`` frames
    (the inline two-consumer caches such as ``_bm25_base``), so a
    retried pass measures the same plan shape as the first."""
    _PLAN_CACHE.clear()


#: Applications whose Python workers have been sent the package.
_SHIPPED_TO: set[str] = set()
_PACKAGE = Path(__file__).resolve().parent.parent
_ZIP_NAME = f"{_PACKAGE.name}.zip"


@functools.cache
def _package_zip() -> str:
    """The package's ``.py`` files, zipped once per process into a
    temporary directory that is removed at exit."""
    tmp = tempfile.mkdtemp(prefix=f"{_PACKAGE.name}-")
    atexit.register(shutil.rmtree, tmp, True)
    path = os.path.join(tmp, _ZIP_NAME)
    with zipfile.ZipFile(path, "w") as z:
        for f in sorted(_PACKAGE.rglob("*.py")):
            z.write(f, f.relative_to(_PACKAGE.parent))
    return path


def _ship_package(sc: SparkContext, app_id: str) -> None:
    """Put the package on the Python workers' path once per application,
    before a builder creates any Python function (each one records the
    shipped files when it is created). Workers otherwise import the
    package from their working directory, which holds it only when the
    caller started in the repo. A zip of that name the application
    already lists (a caller's ``--py-files``, or another copy of this
    module in the same process) is left as it is."""
    if app_id in _SHIPPED_TO:
        return
    if not any(f.rsplit("/", 1)[-1] == _ZIP_NAME for f in sc.listFiles):
        sc.addPyFile(_package_zip())
    _SHIPPED_TO.add(app_id)


def query(name: str, oracle: str | None = None) -> Callable:
    """Register a named query. ``oracle`` is the DuckDB SQL twin run on
    the same parquet tables (views: region nation customer supplier
    part orders lineitem events documents embeddings)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERY_REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def cached(spark: SparkSession, sf_dir: str) -> DataFrame:
            app_id = spark.sparkContext.applicationId
            _ship_package(spark.sparkContext, app_id)
            key = (app_id, name, os.path.abspath(sf_dir))
            df = _PLAN_CACHE.get(key)
            if df is None or df.sparkSession is not spark:
                df = fn(spark, sf_dir)
                _PLAN_CACHE[key] = df
            return df

        cached.__doc__ = fn.__doc__
        cached.__name__ = fn.__name__
        cached.__wrapped__ = fn
        QUERY_REGISTRY[name] = QueryDef(
            name=name, builder=cached, oracle=oracle, doc=fn.__doc__ or ""
        )
        return fn

    return deco

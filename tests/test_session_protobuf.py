"""ensure_protobuf: the vendored-copy fallback that unblocks
transformWithStateInPandas in trimmed environments (no Spark needed —
pure sys.path / environ behavior)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sales_etl_spark import session as S  # noqa: E402


def test_ensure_protobuf_reports_availability_and_is_idempotent():
    """Whatever the box has, the probe returns a bool and a second
    call agrees (no flapping, no exception)."""
    first = S.ensure_protobuf()
    second = S.ensure_protobuf()
    assert first == second
    assert isinstance(first, bool)
    if first:
        import google.protobuf  # noqa: F401


def test_ensure_protobuf_fallback_exports_worker_pythonpath(monkeypatch):
    """When the import is satisfied from a fallback directory, that
    directory must land on PYTHONPATH (late-spawned Python workers
    inherit the JVM environment, not driver sys.path) and the
    protobuf version-policy escape hatch must be set."""
    hits = [p for p in S._PROTOBUF_FALLBACKS
            if p and Path(p, "google", "protobuf", "__init__.py").exists()]
    try:
        import google.protobuf  # noqa: F401

        properly_installed = "google" in sys.modules and not any(
            sys.modules["google"].__path__[0].startswith(h) for h in hits
        )
    except ImportError:
        properly_installed = False
    if properly_installed or not hits:
        import pytest

        pytest.skip("no fallback copy in play on this box")
    assert S.ensure_protobuf() is True
    pythonpath = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    assert any(h in pythonpath for h in hits)
    assert (
        os.environ.get("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK")
        == "true"
    )


def test_local_driver_memory_is_half_of_available_within_bounds(monkeypatch):
    """The local heap follows the memory the process can get: half of
    it, never under Spark's 1 GiB default nor over 24 GiB."""
    assert S.available_memory_mb() > 0
    for avail_mb, heap in ((15 * 1024, "7680m"), (128 * 1024, "24576m"),
                           (1000, "1024m")):
        monkeypatch.setattr(S, "available_memory_mb", lambda m=avail_mb: m)
        assert S.local_driver_memory() == heap


def test_pin_semantics_logs_each_conf_it_cannot_set(spark, monkeypatch, caplog):
    """A conf the session refuses is reported with its key and the
    error, and the other confs are still pinned."""
    seen = []

    def refuse_ansi(key, value):
        seen.append(key)
        if key == "spark.sql.ansi.enabled":
            raise RuntimeError("static conf")

    monkeypatch.setattr(spark.conf, "set", refuse_ansi)
    with caplog.at_level("WARNING", logger=S.__name__):
        S.pin_semantics(spark)
    assert seen == list(S._RUNTIME_CONFS)
    [record] = caplog.records
    assert "spark.sql.ansi.enabled" in record.getMessage()
    assert "static conf" in record.getMessage()


def test_python_workers_import_the_package_from_any_working_directory(
    tmp_path,
):
    """A vanilla session started outside the repo runs a Python-kernel
    query through ``__spark_entry__``: the workers' working directory
    does not hold the package, so the builder must ship it."""
    import subprocess

    repo = Path(__file__).resolve().parent.parent
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(repo)!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "import __spark_entry__ as E\n"
        "df = E.queries()['media_png_decode'](spark, E.SMOKE_SF_DIR)\n"
        "print('rows', len(df.collect()))\n"
        "spark.stop()\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and Path(p).resolve() != repo
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "rows " in proc.stdout

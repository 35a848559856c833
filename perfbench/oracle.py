"""DuckDB oracle digests for the query-mix workloads.

Each registered query's DuckDB twin runs once over the generated star
tables; its order-insensitive digest (``tools/engine_digest.py``) is
cached next to the tables and reused by every later run.
"""

from __future__ import annotations

import json
import os
from pathlib import Path


def oracle_digests(star_dir: Path, names: list[str], threads: int) -> dict:
    """{query: [n_rows, h1, h2]} for ``names``, computing only the
    digests the cache lacks."""
    cache = star_dir / "oracle_digests.json"
    known = json.loads(cache.read_text()) if cache.exists() else {}
    missing = [n for n in names if n not in known]
    if missing:
        from sales_etl_spark.plans import QUERY_REGISTRY
        from tools.check_oracle import duckdb_conn
        from tools.engine_digest import duck_digest

        con = duckdb_conn(str(star_dir))
        con.execute(f"SET threads={threads}")
        try:
            for name in missing:
                oracle = QUERY_REGISTRY[name].oracle
                if oracle is None:
                    raise ValueError(f"{name} has no DuckDB oracle")
                digest = duck_digest(con, oracle)
                if digest is None:
                    raise ValueError(f"{name}: oracle output has no digest")
                known[name] = list(digest)
        finally:
            con.close()
        tmp = cache.with_suffix(".tmp")
        tmp.write_text(json.dumps(known, indent=1))
        os.replace(tmp, cache)
    return {n: known[n] for n in names}

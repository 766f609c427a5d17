"""DuckDB oracle for the benchmark's correctness checks.

Each registered query's ``ORACLE`` twin runs in DuckDB over the same
parquet files the engine reads. The twins are deterministic, so their
results are cached on disk, keyed by the SQL text, the DuckDB version and
the input checksums; the first run in a fresh checkout computes them.
Frames are compared with the repo's own ``tests.oracle_check.compare_frames``.
"""

from __future__ import annotations

import hashlib
import os
import pickle
from pathlib import Path

import duckdb

# The reference pipeline drops rows with a null key or date before any
# dim or fact constructor sees them (plans/pipeline.py); its sinks are checked against
# the registry twins evaluated over that cleaned source.
CLEANED_ORDERS = (
    "SELECT * FROM read_parquet('{path}') "
    "WHERE o_orderkey IS NOT NULL AND o_orderdate IS NOT NULL"
)

# DuckDB twin of the metrics dict ``run_pipeline`` returns.
PIPELINE_METRICS_SQL = """
SELECT (SELECT count(*) FROM raw_orders)                       AS rows_before,
       (SELECT count(*) FROM orders)                           AS rows_after,
       (SELECT count(*) FROM raw_orders)
         - (SELECT count(*) FROM orders)                       AS rows_dropped,
       (SELECT count(DISTINCT o_orderpriority) FROM orders)    AS priority_dim,
       (SELECT count(DISTINCT o_orderdate) FROM orders)        AS calendar_dim,
       (SELECT count(*) FROM nation)                           AS country_dim,
       (SELECT count(*) FROM orders)                           AS fact,
       (SELECT count(*) FROM orders
         WHERE o_orderpriority IS NOT NULL
           AND o_orderpriority NOT IN
               (SELECT DISTINCT o_orderpriority FROM orders))  AS unresolved_fks
"""


def connect(data_dir: Path, tables: tuple[str, ...], work: Path, cleaned: bool = False):
    """DuckDB connection with one view per input table. ``cleaned``
    swaps ``orders`` for the pipeline's null-dropped source and keeps the
    raw table as ``raw_orders``."""
    (work / "duckdb_tmp").mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '6GB'")
    con.execute(f"SET temp_directory = '{work / 'duckdb_tmp'}'")
    for t in tables:
        path = data_dir / f"{t}.parquet"
        con.execute(f"CREATE VIEW raw_{t} AS SELECT * FROM read_parquet('{path}')")
        if cleaned and t == "orders":
            con.execute(f"CREATE VIEW orders AS {CLEANED_ORDERS.format(path=path)}")
        else:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM raw_{t}")
    return con


def cached(cache_dir: Path, key_parts: list[str], compute):
    """Return ``compute()``, memoised on disk under a hash of ``key_parts``."""
    key = hashlib.sha256("\0".join([duckdb.__version__, *key_parts]).encode()).hexdigest()
    path = cache_dir / f"{key[:24]}.pkl"
    if path.exists():
        with open(path, "rb") as f:
            return pickle.load(f)
    value = compute()
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(f".{os.getpid()}.tmp")
    with open(tmp, "wb") as f:
        pickle.dump(value, f)
    os.replace(tmp, path)
    return value

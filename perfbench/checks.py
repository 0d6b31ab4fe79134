"""Output checks, run once per benchmark run outside every timed window.

Queries with an oracle are compared with DuckDB through the engine's
own parity checker (``tools/parity.py``: declared types, then values,
order-insensitively).  The oracle's rows are kept on disk next to the
tables, since neither changes between runs.  Queries without one, and the output the
streaming probe leaves behind, must have their pinned schema and at
least one row.
"""

from __future__ import annotations

import hashlib
import os
import pickle

from workloads import ROWS_ONLY_SCHEMAS, STREAM_SCHEMAS


def check_pinned(df, expected: str | None) -> list[str]:
    got = df.schema.simpleString()
    if expected is None:
        return [f"no pinned schema for output {got}"]
    if got != expected:
        return [f"schema {got} != pinned {expected}"]
    if df.limit(1).count() == 0:
        return ["empty result"]
    return []


def oracle_rows(rel, oracle_sql: str, cache_dir: str | None) -> list:
    """The oracle's result rows.  With ``cache_dir`` (one per data
    directory, whose tables never change) they are computed once per
    oracle text and parity checker, then read back."""
    if cache_dir is None:
        return rel.fetchall()
    import tools.parity

    key = hashlib.sha256(oracle_sql.encode())
    with open(tools.parity.__file__, "rb") as fh:
        key.update(fh.read())
    path = os.path.join(cache_dir, key.hexdigest() + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    rows = rel.fetchall()
    os.makedirs(cache_dir, exist_ok=True)
    with open(f"{path}.{os.getpid()}", "wb") as fh:
        pickle.dump(rows, fh)
    os.replace(f"{path}.{os.getpid()}", path)
    return rows


def check_query(
    name: str, df, oracle_sql: str | None, con, cache_dir: str | None = None
) -> list[str]:
    """Mismatch descriptions for one query's DataFrame (empty = correct)."""
    from tools.parity import compare, type_errors

    if oracle_sql is None:
        return check_pinned(df, ROWS_ONLY_SCHEMAS.get(name))
    rel = con.sql(oracle_sql)
    return type_errors(df, rel) or compare(
        name, df, oracle_rows(rel, oracle_sql, cache_dir), list(rel.columns)
    )


def check_probe(spark, workdir: str, probe: str) -> dict[str, list[str]]:
    from probes import probe_outputs

    return {
        name: check_pinned(df, STREAM_SCHEMAS.get(name))
        for name, df in probe_outputs(spark, workdir, probe).items()
    }

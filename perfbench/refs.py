"""Result references and the comparison the benchmark checks against.

Relational and text results are compared the way ``tools/check_correctness.py``
compares them: same row count, same column names, and equal stringified
values after sorting columns by name and rows by value. Rather than keep the
reference frame, the reference stores the count, the column list and a digest
of those stringified columns.

References come from DuckDB over ``__spark_entry__.oracle_sql()`` and from a
DuckDB replay of the ingest-feed mutations (see ``ops.ingest_reference``).
They are computed outside any timed region and cached as JSON under the
benchmark's cache directory, keyed by workload, seed and input fingerprint.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pandas as pd

from bench import _testdata_fingerprint as fingerprint  # noqa: F401  (the digest bench.py stamps)

_path = list(sys.path)
from tools.check_correctness import _canon  # noqa: E402

sys.path[:] = _path  # check_correctness prepends its own repository path


def digest(df: pd.DataFrame) -> dict:
    """Row count, sorted column names and a digest of the canonical
    stringified values; two frames match when these are equal."""
    c = _canon(df)
    h = hashlib.sha256()
    for col in c.columns:
        kind = "f" if pd.api.types.is_float_dtype(c[col]) else "o"
        h.update(f"{col}:{kind}:".encode())
        h.update("\x1f".join(str(x) for x in c[col]).encode())
        h.update(b"\x1e")
    return {"rows": len(c), "columns": list(c.columns), "hash": h.hexdigest()[:16]}


def duckdb_views(con, data_dir: str, tables) -> None:
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')")


def load_or_build(path: str, build) -> dict:
    """Cached JSON reference at ``path``, built by ``build()`` on a miss."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    ref = build()
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(ref, f, sort_keys=True)
    os.replace(tmp, path)
    return ref

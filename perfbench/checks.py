"""Output checks: every result the benchmark times is compared with an
independent DuckDB computation over the same input files.

Comparison is strict, as in ``tools/verify_local.py --strict``: row count,
column names, and the multiset of rows with floats compared by ``repr``
(any ulp difference fails).
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(rows, cols) -> list[str]:
    """Rows as strings with columns in name order (row order kept)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ["|".join(norm_cell(r[i]) for i in order) for r in rows]


def diff(got_rows, got_cols, want_rows, want_cols) -> str | None:
    """None when equal, else a short description of the first difference."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns got={sorted(got_cols)} want={sorted(want_cols)}"
    return diff_norm(norm_rows(got_rows, got_cols), norm_rows(want_rows, want_cols))


def diff_norm(got: list[str], want: list[str]) -> str | None:
    if len(got) != len(want):
        return f"rowcount got={len(got)} want={len(want)}"
    g, w = sorted(got), sorted(want)
    if g != w:
        pairs = [(a, b) for a, b in zip(g, w) if a != b][:3]
        return f"values differ, first: {pairs}"
    return None


def connect(sf_dir: str | None = None):
    """A single-threaded DuckDB connection with a view per base table."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES if sf_dir else ():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def query(con, sql: str) -> tuple[list, list[str]]:
    res = con.execute(sql)
    return res.fetchall(), [d[0] for d in res.description]


def package_digest(pkg_dir: str) -> str:
    """Hash of the engine package's sources: cached oracle results are
    valid only for the code that produced their SQL."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(pkg_dir)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, pkg_dir).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def face_expectations(sf_dir: str, faces: list[str], cache_path: str, digest: str) -> dict:
    """{face: {"cols": [...], "rows": [normalized rows]}} from the
    engine's DuckDB oracles, computed once per (data, package digest)
    and cached in ``cache_path``."""
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest and all(f in cached["faces"] for f in faces):
            return cached["faces"]
    from real_time_event_streaming_pipeline_spark import plans

    oracles = plans.all_oracles(sf_dir=sf_dir)
    con = connect(sf_dir)
    out = {}
    for f in faces:
        rows, cols = query(con, oracles[f])
        out[f] = {"cols": cols, "rows": norm_rows(rows, cols)}
    con.close()
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"digest": digest, "faces": out}, fh)
    os.replace(tmp, cache_path)
    return out

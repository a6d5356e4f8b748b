"""Expected outputs of a chain, from the engine's own DuckDB oracle SQL
(`SparkEntry.oracleSql`), and the digest both sides are compared by.

A table is canonicalised as `tools/check_oracle.py` does it: columns
sorted by name, floats rounded to 6 places, rows sorted. Its digest is
the row count plus a SHA-256 over the column names and canonical rows.
"""
from __future__ import annotations

import concurrent.futures
import hashlib
import os

import duckdb


def canon_digest(cursor) -> dict:
    rows = cursor.fetchall()
    cols = [d[0] for d in cursor.description]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(str(v))
        lines.append("|".join(vals))
    lines.sort()
    h = hashlib.sha256("|".join(cols[i] for i in idx).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return {"rows": len(rows), "digest": h.hexdigest()}


def _connect(threads: int):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='1GB'")
    con.execute("SET enable_progress_bar=false")
    return con


def _oracle_group(args) -> list[tuple[str, dict]]:
    """Digests of one group of stages, inner stages first. Each result is
    kept as a table, and a later query that embeds an earlier one's SQL
    verbatim reads that table instead of evaluating the SQL again."""
    corpus_dir, group = args
    con = _connect(4)
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    done, out = [], []
    for stage, orig in sorted(group, key=lambda kv: len(kv[1])):
        sql = orig
        for inner, inner_sql in reversed(done):
            sql = sql.replace(inner_sql, f"SELECT * FROM __{inner}")
        con.execute(f"CREATE TEMP TABLE __{stage} AS {sql}")
        done.append((stage, orig))
        out.append((stage, canon_digest(con.execute(f"SELECT * FROM __{stage}"))))
    return out


def expected(corpus_dir: str, sql: dict) -> dict:
    """Row count and digest of every stage's oracle result. A stage whose
    SQL embeds another's is evaluated after it in the same group; two
    processes take the groups, the longest SQL first."""
    groups = []
    for stage, q in sorted(sql.items(), key=lambda kv: len(kv[1])):
        linked = [g for g in groups if any(s in q for _, s in g)]
        merged = [x for g in linked for x in g] + [(stage, q)]
        groups = [g for g in groups if g not in linked] + [merged]
    groups.sort(key=lambda g: -sum(len(q) for _, q in g))
    with concurrent.futures.ProcessPoolExecutor(max_workers=2) as pool:
        return dict(x for part in pool.map(_oracle_group, [(corpus_dir, g) for g in groups])
                    for x in part)


def artifact(path: str) -> dict:
    """Row count and digest of one parquet artifact directory."""
    parts = [f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith((".", "_"))]
    if not parts:
        return {"rows": 0, "digest": None}
    con = _connect(1)
    return canon_digest(con.execute(f"SELECT * FROM '{path}/*.parquet'"))

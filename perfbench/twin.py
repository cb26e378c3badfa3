"""Correctness twins: the same answer computed by DuckDB over the same
generated files, compared by row count and an order-insensitive hash.

Cells are canonicalised by value, not by engine type: every integral
value (Spark bigint, DuckDB HUGEINT, and decimal(38,0), which is how
HUGEINT reaches Arrow) becomes one int64 rendering, and floats render at
12 significant digits. Comparing engine types instead is the trap that
kept a rollup query red for a round.
"""

from __future__ import annotations

import decimal
import glob
import hashlib
import math
import os

NGRAM_N = 5

# Line tokens exactly as functions.text.normalize_text + tokenize: delete
# every char that is not alphanumeric or whitespace, lowercase, split on
# whitespace runs, drop empty tokens.
_LINE_TOKENS = (
    r"list_filter(string_split_regex(lower(regexp_replace(value, "
    r"'[^a-zA-Z0-9\t\n\x0B\f\r ]+', '', 'g')), '[\t\n\x0B\f\r ]+'), t -> t <> '')")


def cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v.is_integer() and abs(v) < 2**63:
            return str(int(v))
        return f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def digest(columns: list[str], rows) -> dict:
    """Row count, sorted column names, and an order-insensitive but
    multiplicity-sensitive hash (sum of per-row sha1 mod 2^64)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc, n = 0, 0
    for r in rows:
        line = "\x1f".join(cell(r[i]) for i in order)
        acc = (acc + int.from_bytes(hashlib.sha1(line.encode()).digest()[:8], "big")) % 2**64
        n += 1
    return {"rows": n, "columns": sorted(columns), "hash": f"{acc:016x}"}


def _connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def oracle_digests(data_dir: str, queries: list[str]) -> dict[str, dict]:
    """``registry.ORACLE`` run by DuckDB over the generated parquet tables."""
    from hadoop_mapreduce_spark.registry import ORACLE

    con = _connect(data_dir)
    try:
        out = {}
        for q in queries:
            cur = con.execute(ORACLE[q])
            cols = [d[0] for d in cur.description]
            out[q] = digest(cols, cur.fetchall())
        return out
    finally:
        con.close()


def ngram_twin_digest(text_dir: str, n: int = NGRAM_N) -> dict:
    """Per-line n-gram counts of every ``*.txt`` under ``text_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        cur = con.execute(f"""
WITH lines AS (
  SELECT {_LINE_TOKENS} AS t
  FROM (SELECT unnest(string_split(content, chr(10))) AS value
        FROM read_text('{os.path.join(text_dir, '*.txt')}'))),
grams AS (
  SELECT array_to_string(t[i:i+{n - 1}], ' ') AS ngram
  FROM lines, LATERAL (SELECT unnest(generate_series(1, len(t) - {n - 1})) AS i) g)
SELECT ngram, count(*) AS cnt FROM grams GROUP BY ngram""")
        return digest(["ngram", "cnt"], cur.fetchall())
    finally:
        con.close()


def read_tsv(out_dir: str, drop: int = 0) -> tuple[dict, bool]:
    """Digest of a ``write_tsv`` output directory read back, less its
    first ``drop`` rows, and whether its part files, taken in name order,
    are globally sorted by key."""
    rows, prev, ordered = [], None, True
    for p in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(p) as fh:
            for line in fh:
                key, cnt = line.rstrip("\n").rsplit("\t", 1)
                if prev is not None and key < prev:
                    ordered = False
                prev = key
                rows.append((key, int(cnt)))
    return digest(["ngram", "cnt"], rows[drop:]), ordered

"""Seeded input generator for the perfbench workloads.

The engine under test sees only the files written here. The same
(workload, seed) always yields byte-identical inputs. Nothing is read
from outside the checkout; instead the document model below reproduces
the statistics of the repository's sf0.1 ``documents`` fixture.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The document model, measured on the sf0.1 fixture (documents.parquet,
# 5,000 docs):
# * text: 10-99 words drawn uniformly from the 30 words of DOC_WORDS, so
#   unrelated docs barely share word 3-shingles and only planted
#   duplicates pass the dedup family's 0.8 Jaccard thresholds;
# * 250 docs (5%) are near-duplicates, "<another doc's text> dup";
# * 8 docs (0.16%) are verbatim copies of a near-duplicate;
# * lang: en 41%, zh, de, fr and es about 15% each; source: src<doc_id % 20>;
#   n_chars: the length of the text.
# One departure caps duplicate saturation: the fixture gives a few
# originals two near-duplicates, here no doc is copied twice, so a
# duplicate cluster holds at most an original, its near-duplicate and one
# copy of that, and the candidate-pair output grows linearly with the doc
# count (K verbatim copies of one doc would grow it as K^2).
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
DOC_LEN = (10, 100)     # words, half-open
NEAR_DUP_FRAC = 250 / 5000
EXACT_DUP_FRAC = 8 / 5000
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
N_SOURCES = 20

# dedup_guard: documents.parquet of DOCS docs. ngram_cli: the texts of
# TEXT_DOCS docs of the same model as lines of text, the text the
# engine's own n-gram query counts. Almost every 5-gram over a 30-word
# vocabulary is distinct, so the count's shuffle and the TSV sink carry
# about one row per input word.
DOCS = 1200
TEXT_DOCS = 2600
KEEP = 6                # cached inputs kept


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    n_near = round(n_docs * NEAR_DUP_FRAC)
    n_exact = round(n_docs * EXACT_DUP_FRAC)
    n_orig = n_docs - n_near - n_exact
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(*DOC_LEN))])
             for _ in range(n_orig)]
    # distinct originals and distinct near-dups, so no doc is copied twice
    near = [texts[i] + " dup" for i in rng.choice(n_orig, size=n_near, replace=False)]
    texts += near + [near[i] for i in rng.choice(n_near, size=n_exact, replace=False)]
    texts = [texts[i] for i in rng.permutation(n_docs)]
    ids = np.arange(n_docs)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def star_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """Tiny tables with the fixture schemas. ``load_tables`` resolves every
    table at set-up, so each must exist; the kept workloads scan none of
    them."""
    n_cust, n_supp, n_part, n_ord, n_li, n_ev, n_emb = 150, 10, 200, 1500, 6000, 1000, 500
    t0 = np.datetime64("1995-01-01", "us")

    def days(n, span):
        return t0 + rng.integers(0, span, n) * np.timedelta64(1, "D")

    def names(prefix, n):
        return pa.array([f"{prefix}#{i:09d}" for i in range(n)])

    def keys(n):
        return pa.array(np.arange(n), pa.int64())

    def money(lo, hi, n):
        return pa.array(np.round(rng.uniform(lo, hi, n), 2))

    return {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": keys(n_cust), "c_name": names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": keys(n_supp), "s_name": names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": keys(n_part),
            "p_name": rng.choice(["red bolt", "blue gear", "small ring", "old rod"], n_part),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                  "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(900.0 + np.arange(n_part) % 1000 / 10)}),
        "orders": pa.table({
            "o_orderkey": keys(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": pa.array(days(n_ord, 2400), pa.timestamp("us")),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(days(n_li, 2500), pa.timestamp("us"))}),
        "events": pa.table({
            "event_id": keys(n_ev),
            "ts": pa.array(np.datetime64("2024-01-01", "us")
                           + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
                           .astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_cust, n_ev), pa.int64()),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": money(0, 560, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        "embeddings": pa.table({
            "vec_id": keys(n_emb),
            "embedding": pa.array(list(rng.normal(0, 0.1, (n_emb, 64)).astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
    }


def write_parquet_tables(rng: np.random.Generator, out: str, n_docs: int,
                         n_files: int) -> None:
    for tname, tbl in star_tables(rng).items():
        pq.write_table(tbl, os.path.join(out, f"{tname}.parquet"))
    # documents.parquet is a directory of one file per core, as a
    # multi-file dataset arrives; Spark and DuckDB both read it as a table.
    docs = documents(rng, n_docs)
    ddir = os.path.join(out, "documents.parquet")
    os.makedirs(ddir)
    step = -(-docs.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(docs.slice(i * step, step), os.path.join(ddir, f"part-{i:03d}.parquet"))


def write_text(rng: np.random.Generator, out: str, n_docs: int, n_files: int) -> None:
    """One document text per line, in the reference's input format."""
    lines = documents(rng, n_docs).column("text").to_pylist()
    per_file = -(-n_docs // n_files)
    for f in range(n_files):
        with open(os.path.join(out, f"part-{f:03d}.txt"), "w") as fh:
            fh.write("\n".join(lines[f * per_file:(f + 1) * per_file]) + "\n")


def generate(workload: str, seed: int, out: str, n_files: int, scale: float = 1.0) -> None:
    """Write the inputs of ``workload`` for ``seed`` into the new dir ``out``.
    ``scale`` shrinks the inputs for self-tests."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    os.makedirs(out)
    if workload == "dedup_guard":
        write_parquet_tables(rng, out, max(50, int(DOCS * scale)), n_files)
    elif workload == "ngram_cli":
        write_text(rng, out, max(50, int(TEXT_DOCS * scale)), n_files)
    else:
        raise ValueError(f"unknown workload {workload!r}")


def cached(workload: str, seed: int, cache_root: str, n_files: int,
           scale: float = 1.0) -> str:
    """Generate once per (workload, seed, scale, files) under ``cache_root``
    and return the directory; keeps the KEEP most recent entries."""
    key = f"{workload}-s{seed}-x{scale:g}-f{n_files}"
    path = os.path.join(cache_root, key)
    if not os.path.isdir(path):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(workload, seed, tmp, n_files, scale)
        os.rename(tmp, path)
    os.utime(path)
    entries = sorted((e for e in os.scandir(cache_root) if e.is_dir() and ".tmp" not in e.name),
                     key=lambda e: e.stat().st_mtime, reverse=True)
    for e in entries[KEEP:]:
        shutil.rmtree(e.path, ignore_errors=True)
    return path

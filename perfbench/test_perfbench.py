"""Self-tests of the benchmark. The first group is pure Python; the
second drives ``run.py`` end to end on tiny inputs (about two minutes).

Run from the repository root:
  python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import decimal
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import self_times, union_len  # noqa: E402
from twin import digest  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def test_integral_types_share_one_rendering():
    # Spark bigint, DuckDB HUGEINT and decimal(38,0) (HUGEINT through Arrow)
    # and pandas' float64 all carry the same integer
    as_int = digest(["k", "n"], [("a", 78)])
    assert digest(["k", "n"], [("a", decimal.Decimal("78"))]) == as_int
    assert digest(["k", "n"], [("a", 78.0)]) == as_int
    assert digest(["n", "k"], [(78, "a")]) == as_int
    assert digest(["k", "n"], [("a", 79)]) != as_int


def test_digest_is_order_insensitive_but_counts_duplicates():
    rows = [("a", 1), ("b", 2), ("c", 3)]
    assert digest(["k", "v"], rows) == digest(["k", "v"], rows[::-1])
    assert digest(["k", "v"], rows + rows[:1]) != digest(["k", "v"], rows)


def test_self_times_add_up_with_overlapping_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 6.0},
        {"id": 2, "parent": 0, "start": 4.0, "end": 8.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    selfs = self_times(spans)
    assert sum(selfs.values()) == pytest.approx(10.0)
    assert selfs[0] == pytest.approx(3.0)
    assert union_len([(1.0, 6.0), (4.0, 8.0), (9.0, 9.5)]) == pytest.approx(7.5)


def test_generator_is_seeded_and_caps_duplicates(tmp_path):
    rng_a, rng_b = (gen.np.random.default_rng(5) for _ in range(2))
    docs = gen.documents(rng_a, 1200)
    assert docs.equals(gen.documents(rng_b, 1200))
    texts = docs.column("text").to_pylist()
    near = {t for t in texts if t.endswith(" dup")}
    assert len(near) == round(1200 * gen.NEAR_DUP_FRAC)
    assert len({t[: -len(" dup")] for t in near}) == len(near)
    copies = [t for t in set(texts) if texts.count(t) > 1]
    assert len(copies) == round(1200 * gen.EXACT_DUP_FRAC)
    assert all(texts.count(t) == 2 and t in near for t in copies)
    gen.generate("ngram_cli", 3, str(tmp_path / "a"), 2, scale=0.01)
    gen.generate("ngram_cli", 3, str(tmp_path / "b"), 2, scale=0.01)
    for f in ("part-000.txt", "part-001.txt"):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()


@pytest.mark.skipif(not os.path.isdir(os.environ.get("SPARK_GRAFT_SF_DIR", "")),
                    reason="SPARK_GRAFT_SF_DIR names no fixture directory")
def test_document_model_matches_fixture():
    import collections

    import pyarrow.parquet as pq

    fixture = pq.read_table(os.path.join(os.environ["SPARK_GRAFT_SF_DIR"],
                                         "documents.parquet")).to_pylist()
    model = gen.documents(gen.np.random.default_rng(7), len(fixture)).to_pylist()

    def stats(rows):
        texts = [r["text"] for r in rows]
        lens = [len(t.split()) for t in texts if not t.endswith(" dup")]
        langs = collections.Counter(r["lang"] for r in rows)
        return {
            "words": {w for t in texts for w in t.split()} - {"dup"},
            "len_range": (min(lens), max(lens)),
            "near_dup": sum(t.endswith(" dup") for t in texts) / len(rows),
            "copies": sum(v - 1 for v in collections.Counter(texts).values()) / len(rows),
            "en": langs["en"] / len(rows),
            "sources": all(r["source"] == f"src{r['doc_id'] % 20}" for r in rows),
            "n_chars": all(r["n_chars"] == len(r["text"]) for r in rows),
        }

    want, got = stats(fixture), stats(model)
    for k in ("words", "len_range", "sources", "n_chars"):
        assert got[k] == want[k], k
    for k in ("near_dup", "copies"):
        assert got[k] == pytest.approx(want[k], abs=0.002), k
    assert got["en"] == pytest.approx(want["en"], abs=0.02)


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    seed = 990_000 + trace
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "0.05",
         *extra], cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"{workload}-s{seed}-x0.05-trace{trace}.json")) as fh:
        return line, json.load(fh)


def test_untraced_run_prints_every_end_to_end_metric():
    line, rec = _run("ngram_cli", 0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0
    assert {n: v["unit"] for n, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    # the tail percentile has at least ten warm ops beyond it
    beyond = rec["warm_ops"] - round(rec["op_tail_pct"] / 100 * rec["warm_ops"])
    assert beyond >= 10


def test_traced_run_layers_spans_and_injected_mismatch():
    line, rec = _run("dedup_guard", 1, "--inject-wrong", "dedup_span_chunks")
    assert {n: v["unit"] for n, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in BENCH["per_layer"]}
    # the wrong result injected in one warm op fails that op alone
    bad = [o for o in rec["per_op_layers"]
           if o["query"] == "dedup_span_chunks" and o["round"] == 1]
    assert not line["correct"] and not bad
    assert line["failed"] == 1
    assert rec["checks"]["dedup_span_chunks"]["mismatched"] == 1
    assert rec["end_to_end"]["ok_ratio"] == pytest.approx(1 - 1 / rec["ops"])
    spans = rec["spans"]
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree_self(s):
        return s["self"] + sum(subtree_self(k) for k in kids.get(s["id"], ()))

    for op in (s for s in spans if s["name"] == "op"):
        parts = {k["name"]: k for k in kids[op["id"]]}
        total = sum(subtree_self(k) for n, k in parts.items() if n != "check") + op["self"]
        assert total == pytest.approx(op["wall"], rel=0.05)
        covered = sum(parts[n]["end"] - parts[n]["start"] for n in ("build", "sink"))
        assert covered >= 0.95 * op["wall"]

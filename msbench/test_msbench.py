"""Tests of the benchmark's own parts.  No Spark session is started.

    python3 -m pytest msbench/test_msbench.py
"""

from __future__ import annotations

import hashlib
import io
import json
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

import gen
import registry
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for name in sorted(names):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _parquet_bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.getvalue()


def test_ms_table_same_seed_same_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_parquet_dir(gen.ms_table(7, 2), str(a), gen.MS_FILES)
    gen.write_parquet_dir(gen.ms_table(7, 2), str(b), gen.MS_FILES)
    assert tree_digest(str(a)) == tree_digest(str(b))
    c = tmp_path / "c"
    gen.write_parquet_dir(gen.ms_table(8, 2), str(c), gen.MS_FILES)
    assert tree_digest(str(a)) != tree_digest(str(c))


def test_ms_table_shape():
    t = gen.ms_table(1, 3)
    nbl = gen.N_ANT * (gen.N_ANT - 1) // 2
    assert nbl == 351
    assert t.num_rows == nbl * 3 * gen.N_FIELD * gen.N_DDID
    assert t.column("ROWID").to_pylist() == list(range(t.num_rows))
    cells = {len(v) for v in t.column("DATA").to_pylist()[:5]}
    assert cells == {gen.N_CHAN * gen.N_CORR * 2}


def test_corpus_same_seed_same_bytes():
    a, b = gen.corpus(3, 500), gen.corpus(3, 500)
    assert _parquet_bytes(a.table) == _parquet_bytes(b.table)
    assert a.exact_dup_ids == b.exact_dup_ids
    assert _parquet_bytes(gen.corpus(4, 500).table) != \
        _parquet_bytes(a.table)


def _passes_quality_defaults(text: str) -> bool:
    """quality_filter's default battery, for space-separated lowercase
    text (min_words=20, max_words=5000, min_distinct_ratio=0.40,
    max_word_frac=0.12, max_stop_frac=0.10, stopwords the/a)."""
    words = text.split()
    n = len(words)
    counts = Counter(words)
    stop = counts["the"] + counts["a"]
    return (20 <= n <= 5000 and len(counts) / n >= 0.40
            and max(counts.values()) / n <= 0.12
            and stop > 0 and stop / n <= 0.10)


def test_registry_tables_same_seed_same_bytes():
    a, b = gen.registry_tables(9), gen.registry_tables(9)
    assert list(a) == list(gen.REGISTRY_TABLES)
    for name in gen.REGISTRY_TABLES:
        assert _parquet_bytes(a[name]) == _parquet_bytes(b[name])
    c = gen.registry_tables(10)
    assert _parquet_bytes(c["lineitem"]) != _parquet_bytes(a["lineitem"])
    assert a["lineitem"].num_rows == gen.N_LINEITEM
    docs = a["documents"].to_pandas()
    assert (docs.n_chars == docs.text.str.len()).all()


def test_registry_order_is_a_seeded_permutation():
    assert registry.order(3) == registry.order(3)
    assert sorted(registry.order(3)) == sorted(registry.QUERIES)
    assert registry.order(3) != registry.order(4)
    assert len(set(registry.QUERIES)) == 24


def test_benchmark_json_declares_the_registry_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["per_layer"]}
    for q in registry.QUERIES:
        assert {f"registry.{q}.construct_s",
                f"registry.{q}.jobs_before_action"} <= names


def test_corpus_planted_counts_match_quality_rules():
    c = gen.corpus(5, 2000)
    texts = c.table.column("text").to_pylist()
    failing = [i for i, t in enumerate(texts)
               if not _passes_quality_defaults(t)]
    assert len(failing) == c.n_low_quality
    # a known pass rate, near the planted one
    rate = 1 - c.n_low_quality / len(texts)
    assert abs(rate - (1 - gen.SHORT_FRAC - gen.NOSTOP_FRAC)) < 0.02
    # every planted exact duplicate copies an earlier good document
    first = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    for i in c.exact_dup_ids:
        assert first[texts[i]] < i
        assert _passes_quality_defaults(texts[i])
    survivors = {first[t] for i, t in enumerate(texts)
                 if _passes_quality_defaults(t)}
    assert len(survivors) == c.n_after_quality_and_exact


@pytest.mark.parametrize("n, value, pct", [
    (100, 90.0, 90.0),     # the 11th largest of 1..100
    (11, 1.0, 100 / 11),   # exactly ten beyond the smallest
    (10, 10.0, 100.0),     # no sample has ten beyond: the maximum
    (1, 1.0, 100.0),
])
def test_tail_percentile_rule(n, value, pct):
    samples = [float(i) for i in range(n, 0, -1)]
    got, got_pct, got_n = spans.tail_percentile(samples)
    assert (got, got_n) == (value, n)
    assert got_pct == pytest.approx(pct)
    beyond = sum(1 for s in samples if s > got)
    assert beyond == (10 if n > 10 else 0)


@pytest.mark.parametrize("wl", list(workloads.WORKLOADS.values()))
def test_scored_op_count_is_fixed_and_tail_is_the_maximum(wl):
    """Each workload scores a fixed number of ops whatever its speed,
    so ``op_tail_s`` is the same statistic on every commit: with at
    most ten samples, the maximum."""
    n = wl.iterations * len(wl(_FakeDms(), None, "", 1, None).ops())
    assert 1 <= n <= spans.TAIL_BEYOND
    samples = [float(i) for i in range(n)]
    assert spans.tail_percentile(samples) == (n - 1.0, 100.0, n)


def test_tail_percentile_rejects_empty():
    with pytest.raises(ValueError):
        spans.tail_percentile([])


def test_event_log_parser_on_captured_log():
    """A two-group log captured from local[2]: ``g-shuffle`` ran a
    2-partition scan plus a 3-partition shuffle read, ``g-python`` a
    2-task mapInPandas that sleeps in Python."""
    groups = spans.read_event_log(
        os.path.join(HERE, "testdata", "eventlog_two_groups.json"))
    assert set(groups) == {"g-shuffle", "g-python"}
    sh, py = groups["g-shuffle"], groups["g-python"]
    assert (sh["jobs"], sh["stages"], sh["tasks"]) == (1, 2, 5)
    assert (py["jobs"], py["stages"], py["tasks"]) == (1, 1, 2)
    assert sh["shuffle_write_mb"] > 0
    assert sh["shuffle_read_mb"] == pytest.approx(sh["shuffle_write_mb"])
    assert py["shuffle_write_mb"] == 0
    assert sh["records_read"] == 1000 and py["records_read"] == 100
    # the Python worker's sleep is invisible to JVM CPU time
    assert py["python_gap_s"] == pytest.approx(
        py["executor_run_s"] - py["executor_cpu_s"])
    assert py["python_gap_s"] > 0.3
    for g in (sh, py):
        assert g["task_skew"] >= 1.0
    total = spans.merge(groups.values())
    assert total["tasks"] == 7
    assert total["task_skew"] == max(sh["task_skew"], py["task_skew"])


class _FakeDms:
    def release_caches(self) -> int:
        return 0


def _curate_workload(n_docs=200):
    wl = workloads.Curate(_FakeDms(), None, "", 1, None)
    wl.corpus = gen.corpus(1, n_docs)
    wl.funnels = []
    wl.last = {}
    return wl, n_docs


def _op(name, index):
    return spans.Op(name, "write", "run", index, f"g{index}")


def test_wrong_result_lands_in_fail_frac(monkeypatch):
    monkeypatch.setattr(workloads, "CORPUS_DOCS", 200)
    wl, n = _curate_workload()
    good = {"input": n, "after_quality_and_exact_dedup":
            wl.corpus.n_after_quality_and_exact,
            "n_contaminated_dropped": 0, "final": 150}
    ops = []
    for i, funnel in enumerate([good, dict(good, final=149), good]):
        op = _op("curate", i)
        wl.last["funnel"] = funnel
        wl.after_iteration([op])
        ops.append(op)
    assert [o.wrong for o in ops] == [False, True, False]
    attempted, failed = spans.account(ops, [])
    assert (attempted, failed) == (3, 1)


def test_failed_check_marks_every_op_of_that_name():
    ops = [_op("convert", 0), _op("zarr_read", 0), _op("zarr_read", 1)]
    ops[0].error = "RuntimeError: boom"
    attempted, failed = spans.account(ops, [("zarr_read", "checksum")])
    assert (attempted, failed) == (3, 3)
    assert spans.account([_op("convert", 0)], []) == (1, 0)

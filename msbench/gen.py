"""Seeded input generators owned by the benchmark.

Both generators take a seed and nothing else that varies, so the same
seed always yields byte-identical parquet (one pyarrow writer, fixed
row-group size, no timestamps in the footer).  Shapes are fixed; only
values depend on the seed, so every seed asks the program for the same
amount of work.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- MS main table ----------------------------------------------------------

N_ANT = 27
N_FIELD = 2
N_DDID = 1
N_CHAN = 32
N_CORR = 4
MS_FILES = 4          # one scan split per core at local[4]


def baselines(n_ant: int = N_ANT) -> tuple[np.ndarray, np.ndarray]:
    a1, a2 = np.triu_indices(n_ant, k=1)
    return a1.astype(np.int32), a2.astype(np.int32)


def ms_table(seed: int, n_time: int) -> pa.Table:
    """MS-shaped main table: time-major rows, one per
    (TIME, FIELD_ID, DATA_DESC_ID, baseline), with UVW (3 doubles) and
    DATA (N_CHAN x N_CORR complex64, interleaved re/im float32, the
    library's complex encoding)."""
    rng = np.random.default_rng([seed, 1])
    a1, a2 = baselines()
    nbl = len(a1)
    t_idx, f_idx, d_idx, b_idx = (
        g.ravel() for g in np.meshgrid(np.arange(n_time),
                                       np.arange(N_FIELD),
                                       np.arange(N_DDID),
                                       np.arange(nbl), indexing="ij"))
    n = len(b_idx)
    time = 4.8e9 + 8.0 * t_idx + 4.0 * f_idx
    uvw = rng.normal(0.0, 1000.0, size=(n, 3))
    cells = N_CHAN * N_CORR * 2
    data = rng.normal(0.0, 1.0, size=(n, cells)).astype(np.float32)
    return pa.table({
        "ROWID": pa.array(np.arange(n, dtype=np.int64)),
        "TIME": pa.array(time),
        "ANTENNA1": pa.array(a1[b_idx]),
        "ANTENNA2": pa.array(a2[b_idx]),
        "FIELD_ID": pa.array(f_idx.astype(np.int32)),
        "DATA_DESC_ID": pa.array(d_idx.astype(np.int32)),
        "UVW": pa.FixedSizeListArray.from_arrays(
            pa.array(uvw.ravel()), 3).cast(pa.list_(pa.float64())),
        "DATA": pa.FixedSizeListArray.from_arrays(
            pa.array(data.ravel()), cells).cast(pa.list_(pa.float32())),
    })


def write_parquet_dir(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` contiguous row slices under the
    directory ``path`` (several files so the scan has several splits)."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy", row_group_size=step)


# -- document corpus -------------------------------------------------------

STOPWORD = "the"          # one of quality_filter's default stopwords
VOCAB_WORDS = 4000
VOCAB_SEED = 0            # one vocabulary for every seed
SHORT_FRAC = 0.08         # planted too-short docs (fail min_words=20)
NOSTOP_FRAC = 0.04        # planted docs without a stopword
EXACT_DUP_FRAC = 0.03     # verbatim copies of an earlier good doc
NEAR_DUP_FRAC = 0.05      # copies with ~5% of the words replaced


@dataclass
class Corpus:
    table: pa.Table
    n_low_quality: int         # planted docs quality_filter must drop
    exact_dup_ids: list[int]   # planted copies exact_dedup must drop

    @property
    def n_after_quality_and_exact(self) -> int:
        return (self.table.num_rows - self.n_low_quality
                - len(self.exact_dup_ids))


def _vocab(rng) -> list[str]:
    cons = list("bcdfghjklmnprstvwz")
    vows = ["a", "e", "i", "o", "u", "ai", "ou"]
    words: set[str] = set()
    while len(words) < VOCAB_WORDS:
        k = int(rng.integers(2, 5))
        w = "".join(cons[int(rng.integers(len(cons)))]
                    + vows[int(rng.integers(len(vows)))]
                    for _ in range(k))
        if w not in ("the", "a"):
            words.add(w)
    return sorted(words)


def corpus(seed: int, n_docs: int) -> Corpus:
    """Documents with planted low-quality, exact-duplicate and
    near-duplicate rows.  Good docs have 24-60 words with one
    ``the`` per 20 words (at least one), so they pass every default
    quality_filter test; planted low-quality docs fail exactly one.

    The vocabulary and the number of documents of each kind are the
    same for every seed (the seed shuffles which rows they are and
    draws the words): the dedup stages' work follows how many words
    share character shingles, which a per-seed vocabulary changed
    enough to move a curate call by 25% between seeds."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(np.random.default_rng(VOCAB_SEED))
    counts = {kind: int(round(frac * n_docs)) for kind, frac in
              (("short", SHORT_FRAC), ("nostop", NOSTOP_FRAC),
               ("exact", EXACT_DUP_FRAC), ("near", NEAR_DUP_FRAC))}
    kinds = [k for k, c in counts.items() for _ in range(c)]
    kinds = ["good"] + list(rng.permutation(
        kinds + ["good"] * (n_docs - 1 - len(kinds))))
    texts: list[str] = []
    good: list[int] = []          # indices of good originals
    stop_pos: dict[int, set] = {}
    n_low, dup_ids = 0, []
    for i, kind in enumerate(kinds):
        if kind == "exact":
            texts.append(texts[good[int(rng.integers(len(good)))]])
            dup_ids.append(i)
            continue
        if kind == "near":
            j = good[int(rng.integers(len(good)))]
            words = texts[j].split(" ")
            free = [p for p in range(len(words)) if p not in stop_pos[j]]
            for p in rng.choice(free, size=max(1, len(words) // 20),
                                replace=False):
                old = words[p]
                while words[p] == old:
                    words[p] = vocab[int(rng.integers(len(vocab)))]
            texts.append(" ".join(words))
            continue
        n_words = int(rng.integers(8, 18) if kind == "short"
                      else rng.integers(24, 61))
        words = [vocab[int(x)] for x in
                 rng.choice(len(vocab), size=n_words, replace=False)]
        if kind == "nostop":
            texts.append(" ".join(words))
            n_low += 1
            continue
        pos = set(int(p) for p in rng.choice(
            n_words, size=max(1, n_words // 20), replace=False))
        for p in pos:
            words[p] = STOPWORD
        texts.append(" ".join(words))
        if kind == "short":
            n_low += 1
        else:
            good.append(i)
            stop_pos[i] = pos
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n_docs, pa.string()),
        "source": pa.array([f"src{int(s)}" for s in
                            rng.integers(0, 20, size=n_docs)], pa.string()),
    })
    return Corpus(table, n_low, dup_ids)


# -- registry tables ---------------------------------------------------------

# The registered queries read a small TPC-H-like star schema plus a
# documents and an embeddings table.  These mirror the column names,
# types, value domains and row counts of the repository's sf0.001 test
# tables; only the values depend on the seed.  Documents are fewer and
# shorter (300 of 10-39 words, not 500 of 10-99): the DuckDB oracles of
# the shingle-graph queries take ~50 s on the longer corpus, ~7 s here.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATION = 25
N_CUSTOMER = 150
N_SUPPLIER = 10
N_PART = 200
N_ORDERS = 1500
N_LINEITEM = 6000
N_DOCUMENTS = 300
N_EMBEDDINGS = 500
EMB_DIM = 64
EMB_CLUSTERS = 10
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
DOC_WORDS = ("scan column window order sort part agg value line key join "
             "merge group query a vector hash slow stream filter fast the "
             "batch spark table small data big customer row").split()
LANGS = ["en", "en", "zh", "es", "fr", "de"]
DOC_LEN = (10, 40)        # words per document, [low, high)
DOC_NEAR_DUP_FRAC = 0.05   # near copies of an earlier doc, marked "dup"
REGISTRY_TABLES = ("region", "nation", "customer", "supplier", "orders",
                   "lineitem", "documents", "embeddings")


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, size=n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _documents(rng) -> pa.Table:
    vocab = list(DOC_WORDS)
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if texts and rng.random() < DOC_NEAR_DUP_FRAC:
            words = texts[int(rng.integers(len(texts)))].split(" ")
            for p in rng.choice(len(words), size=max(1, len(words) // 20),
                                replace=False):
                words[p] = vocab[int(rng.integers(len(vocab)))]
            words.append("dup")
        else:
            n_words = int(rng.integers(*DOC_LEN))
            words = [vocab[int(x)] for x in
                     rng.integers(len(vocab), size=n_words)]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(x)] for x in
                          rng.integers(len(LANGS), size=N_DOCUMENTS)],
                         pa.string()),
        "source": pa.array([f"src{int(x)}" for x in
                            rng.integers(20, size=N_DOCUMENTS)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })


def _embeddings(rng) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, size=(EMB_CLUSTERS, EMB_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(EMB_CLUSTERS, size=N_EMBEDDINGS)
    vec = 0.15 * centroids[label] + rng.normal(
        0.0, 0.125, size=(N_EMBEDDINGS, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(
        np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, N_EMBEDDINGS * EMB_DIM + 1, EMB_DIM,
                               dtype=np.int32)),
            pa.array(vec.ravel())),
        "label": pa.array(label.astype(np.int32)),
    })


def registry_tables(seed: int) -> dict[str, pa.Table]:
    """The tables the registered queries read, keyed by table name."""
    rng = np.random.default_rng([seed, 3])
    nc, ns, no, nl = N_CUSTOMER, N_SUPPLIER, N_ORDERS, N_LINEITEM
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(N_NATION, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(N_NATION)],
                               pa.string()),
            "n_regionkey": pa.array(np.arange(N_NATION, dtype=np.int32)
                                    % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)],
                               pa.string()),
            "c_nationkey": pa.array(rng.integers(N_NATION, size=nc)
                                    .astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array([SEGMENTS[int(x)] for x in
                                      rng.integers(5, size=nc)],
                                     pa.string())}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)],
                               pa.string()),
            "s_nationkey": pa.array(rng.integers(N_NATION, size=ns)
                                    .astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(nc, size=no)),
            "o_orderstatus": pa.array([("O", "F", "P")[int(x)] for x in
                                       rng.integers(3, size=no)],
                                      pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": pa.array([PRIORITIES[int(x)] for x in
                                         rng.integers(5, size=no)],
                                        pa.string())}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(no, size=nl)),
            "l_partkey": pa.array(rng.integers(N_PART, size=nl)),
            "l_suppkey": pa.array(rng.integers(ns, size=nl)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=nl)
                                     .astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, size=nl)
                                   .astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, size=nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=nl) / 100.0),
            "l_returnflag": pa.array([("N", "R", "A")[int(x)] for x in
                                      rng.integers(3, size=nl)],
                                     pa.string()),
            "l_linestatus": pa.array([("F", "O")[int(x)] for x in
                                      rng.integers(2, size=nl)],
                                     pa.string()),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)}),
    }
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    return tables


def write_registry_tables(seed: int, dest: str) -> None:
    """One ``<name>.parquet`` file per table under ``dest``."""
    os.makedirs(dest, exist_ok=True)
    for name, table in registry_tables(seed).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"),
                       compression="snappy")

"""LLM-pipeline operator tests: dedup families, similarity search,
multimodal plumbing.  Oracles are brute-force recomputation in Python
on the small sf0.001 corpus."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dask_ms_spark.llm.dedup import (embedding_dup_pairs,
                                     embedding_dup_pairs_gemm, exact_dedup,
                                     lsh_jaccard_pairs, minhash_lsh_pairs,
                                     ngram_jaccard_pairs, simhash_dedup,
                                     with_minhash)
from dask_ms_spark.llm.multimodal import (decode_image_features, media_table,
                                          sample_video_frames)
from dask_ms_spark.llm.similarity import brute_force_topk, lsh_topk


def test_exact_dedup_finds_planted_dups(spark):
    rows = [Row(doc_id=1, text="Hello  World"),
            Row(doc_id=2, text="hello world"),   # dup of 1 after norm
            Row(doc_id=3, text="something else"),
            Row(doc_id=4, text="HELLO WORLD  ")]  # dup of 1
    out = exact_dedup(spark.createDataFrame(rows)).collect()
    groups = {r.keep_id: r.dup_count for r in out}
    assert groups == {1: 3, 3: 1}


def test_minhash_signature_properties(documents):
    sig = with_minhash(documents, num_hashes=8).collect()
    assert all(len(r.sig) == 8 for r in sig)
    # identical text -> identical signature; near-dup estimate sanity
    # runs through minhash_lsh_pairs below.


def test_minhash_lsh_estimates_jaccard(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [Row(doc_id=1, text=base),
            Row(doc_id=2, text=base),                      # exact dup
            Row(doc_id=3, text=base.replace("lazy", "busy")),
            Row(doc_id=4, text="completely different content here")]
    pairs = minhash_lsh_pairs(spark.createDataFrame(rows), num_hashes=16,
                              num_bands=4, threshold=0.5).collect()
    by_pair = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    assert by_pair[(1, 2)] == 1.0
    assert all(4 not in p for p in by_pair)


def test_lsh_jaccard_matches_bruteforce(documents):
    """LSH candidates + exact verify finds the same >=0.6 pairs the
    all-pairs inverted index does (recall can drop below 1 only for
    sub-threshold bands; with 4 bands of 4 at t=0.6 the planted
    near-dups in the synthetic corpus all collide)."""
    lsh = lsh_jaccard_pairs(documents, n=5, num_hashes=16, num_bands=4,
                            threshold=0.6)
    exact = ngram_jaccard_pairs(documents, n=5, threshold=0.6)
    lsh_pairs = {(r.id_a, r.id_b): round(r.jaccard, 6)
                 for r in lsh.collect()}
    exact_pairs = {(r.id_a, r.id_b): round(r.jaccard, 6)
                   for r in exact.collect()}
    # every LSH pair is a true pair with the identical score
    for k, v in lsh_pairs.items():
        assert exact_pairs[k] == pytest.approx(v, abs=1e-6)
    # and recall on this corpus is total
    assert set(lsh_pairs) == set(exact_pairs)


def test_payload_reattach_joins_never_broadcast(documents):
    """r12: the candidate->payload re-attach joins (minhash
    signatures, shingle-hash sets, normalized text) must plan as
    sort-merge, never broadcast.  The payload tables are O(corpus)
    with fat list/string columns that both the plan-time estimate and
    AQE's compressed-shuffle signal undersize — a plain 1 GiB-driver
    session at 50k docs died broadcasting the ~125 MB shingle-set
    table, and on a cluster the same plan ships the corpus to every
    executor.  The _payload merge hint pins the strategy; this test
    pins the hint."""
    from dask_ms_spark.cache import release_caches
    from dask_ms_spark.llm.dedup import (containment_pairs,
                                         edit_distance_pairs,
                                         lsh_jaccard_pairs)

    outs = {
        "lsh_jaccard": lsh_jaccard_pairs(
            documents, n=5, num_hashes=16, num_bands=4,
            threshold=0.6),
        "containment": containment_pairs(documents, threshold=0.6),
        "edit_distance": edit_distance_pairs(
            documents, max_edits=200, max_ratio=0.4, num_hashes=16,
            num_bands=4, shingle_k=5, lsh_threshold=0.5),
    }
    for name, df in outs.items():
        df.count()  # let AQE finalize — the hint must survive replan
        plan = df._jdf.queryExecution().executedPlan().toString()
        bad = [ln.strip()[:120] for ln in plan.splitlines()
               if "BroadcastHashJoin" in ln
               and ("id_a" in ln or "id_b" in ln)]
        assert not bad, (
            f"{name}: payload re-attach join planned as broadcast "
            f"(the r12 driver-OOM/executor-ship class): {bad}")
        release_caches()


def test_simhash_dedup_exact_dups_collide(spark):
    rows = [Row(doc_id=1, text="aaaa bbbb cccc dddd"),
            Row(doc_id=2, text="aaaa  bbbb cccc dddd"),  # same after norm
            Row(doc_id=3, text="zzzz yyyy xxxx wwww")]
    out = simhash_dedup(spark.createDataFrame(rows), bits=16).collect()
    by_keep = {r.keep_id: r.dup_count for r in out}
    assert by_keep[1] == 2
    assert by_keep[3] == 1


def _np_cosine_pairs(embs, threshold):
    ids = np.array([r.vec_id for r in embs])
    mat = np.array([r.embedding for r in embs], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    nrm[nrm == 0] = 1.0
    sims = (mat / nrm[:, None]) @ (mat / nrm[:, None]).T
    out = {}
    n = len(ids)
    for i in range(n):
        for j in range(n):
            if ids[i] < ids[j] and sims[i, j] >= threshold:
                out[(int(ids[i]), int(ids[j]))] = sims[i, j]
    return out


def test_embedding_gemm_matches_bruteforce(embeddings):
    sample = embeddings.where("vec_id < 120")
    rows = sample.collect()
    want = _np_cosine_pairs(rows, 0.3)
    got_gemm = {(r.id_a, r.id_b): r.cos_sim
                for r in embedding_dup_pairs_gemm(
                    sample, threshold=0.3, block_size=32).collect()}
    got_join = {(r.id_a, r.id_b): r.cos_sim
                for r in embedding_dup_pairs(sample, threshold=0.3).collect()}
    assert set(got_gemm) == set(want)
    for k in want:
        assert got_gemm[k] == pytest.approx(want[k], abs=1e-9)
        assert got_join[k] == pytest.approx(want[k], abs=1e-5)


def test_embedding_bucketed_matches_hamming_filtered_bruteforce(embeddings):
    """Bucketed GEMM = brute-force pairs restricted to sign-signature
    Hamming distance <= 2 (the multiprobe meet condition) — and its
    block-pair join must be bucket-keyed, never a cartesian."""
    from dask_ms_spark.llm.dedup import embedding_dup_pairs_bucketed
    from dask_ms_spark.llm.similarity import _seeded_unit

    sample = embeddings.where("vec_id < 150") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    rows = sample.collect()
    num_planes, dim = 4, len(rows[0].embedding)
    planes = np.array([_seeded_unit(f"dask-ms-spark:{j}", dim)
                       for j in range(num_planes)])

    def sig(vec):
        bits = (planes @ np.array(vec, dtype=np.float64)) >= 0
        return sum(1 << j for j in range(num_planes) if bits[j])

    sigs = {r.vec_id: sig(r.embedding) for r in rows}
    want = {k: v for k, v in _np_cosine_pairs(rows, 0.3).items()
            if bin(sigs[k[0]] ^ sigs[k[1]]).count("1") <= 2}

    pairs = embedding_dup_pairs_bucketed(
        sample, dim=dim, threshold=0.3, num_planes=num_planes,
        block_size=32, multiprobe=True)
    got = {(r.id_a, r.id_b): r.cos_sim for r in pairs.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)

    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the un-bucketed GEMM, by contrast, IS an all-pairs block join
    allpairs = embedding_dup_pairs_gemm(sample, threshold=0.3,
                                        block_size=32)
    ap_plan = allpairs._jdf.queryExecution().executedPlan().toString()
    assert ("CartesianProduct" in ap_plan
            or "BroadcastNestedLoopJoin" in ap_plan)


def test_brute_force_topk_matches_numpy(embeddings):
    rows = embeddings.collect()
    got = brute_force_topk(embeddings, embeddings.where("vec_id = 0"),
                           k=5).collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    nrm[nrm == 0] = 1.0
    unit = mat / nrm[:, None]
    q = unit[ids == 0][0]
    sims = unit @ q
    order = sorted(
        ((s, i) for s, i in zip(sims, ids) if i != 0),
        key=lambda t: (-t[0], t[1]))[:5]
    want = [(int(i), s) for s, i in order]
    got_sorted = sorted(got, key=lambda r: r.rank)
    assert [(r.neighbor_id,) + () for r in got_sorted] == \
        [(i,) for i, _ in want]
    for r, (_, s) in zip(got_sorted, want):
        assert r.cos_sim == pytest.approx(s, abs=1e-6)


def test_lsh_topk_clustered_recall(spark):
    """On clustered data (where near neighbors are actually close in
    angle) bucketed LSH must recover most true top-k; on uniformly
    random vectors poor recall is expected LSH behaviour, so the
    fixture plants 10 tight clusters."""
    rng = np.random.RandomState(42)
    dim, n_clusters, per = 16, 10, 8
    centers = rng.randn(n_clusters, dim)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per):
            v = centers[c] + 0.05 * rng.randn(dim)
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows)
    queries = df.where("vec_id % 8 = 0")  # first member of each cluster
    k = per - 1
    exact = brute_force_topk(df, queries, k=k).collect()
    approx = lsh_topk(df, queries, dim=dim, k=k, num_planes=8).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(exact_sets[q] & approx_sets.get(q, set())) /
               len(exact_sets[q]) for q in exact_sets]
    assert sum(recalls) / len(recalls) >= 0.8
    # and every approx score is the true cosine
    rows_by_id = {r.vec_id: np.array(r.embedding) for r in df.collect()}
    for r in approx:
        a, b = rows_by_id[r.query_id], rows_by_id[r.neighbor_id]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert r.cos_sim == pytest.approx(want, abs=1e-6)


def test_multimodal_features(documents):
    media = media_table(documents.limit(20))
    feats = decode_image_features(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert r.n_px > 0
        assert 0.0 <= r.mean_px <= 255.0
    # deterministic: same input -> same output
    again = decode_image_features(media).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, again))


def test_binary_features_byte_exact(documents):
    """Every column of binary_features is a pure function of the
    payload bytes — verified against a direct Python computation."""
    import hashlib

    from dask_ms_spark.llm.multimodal import binary_features

    media = media_table(documents.limit(20))
    src = {r.media_id: (bytes(r.payload), r.width, r.height)
           for r in media.collect()}
    for r in binary_features(media).collect():
        b, w, h = src[r.media_id]
        digest = hashlib.md5(b).hexdigest()
        assert r.n_bytes == len(b)
        assert r.hash64 == int(digest[:15], 16)
        assert r.magic_hex == b[:4].hex().upper()
        assert r.first_byte == b[0] and r.last_byte == b[-1]
        assert (r.width, r.height) == (w, h)


def test_resize_images_fixed_raster(documents):
    from dask_ms_spark.llm.multimodal import resize_images

    media = media_table(documents.limit(10))
    out = resize_images(media, out_width=8, out_height=6).collect()
    assert len(out) == 10
    for r in out:
        assert (r.width, r.height) == (8, 6)
        assert len(r.payload) == 8 * 6  # bounded output, any input size
    # deterministic nearest-neighbour resample
    again = resize_images(media, out_width=8, out_height=6).collect()
    assert sorted((r.media_id, bytes(r.payload)) for r in out) == \
        sorted((r.media_id, bytes(r.payload)) for r in again)


def test_sample_video_frames(spark):
    rows = [Row(media_id=1, kind="video", n_frames=25),
            Row(media_id=2, kind="image", n_frames=1)]
    out = sample_video_frames(spark.createDataFrame(rows), every_n=10) \
        .collect()
    assert sorted((r.media_id, r.frame_index) for r in out) == \
        [(1, 0), (1, 10), (1, 20)]


def test_deterministic_split_is_stable_and_proportional(documents):
    from dask_ms_spark.llm.sampling import (deterministic_split,
                                            sample_by_hash)

    s1 = deterministic_split(documents, "doc_id")
    s2 = deterministic_split(documents, "doc_id")
    a = sorted((r.doc_id, r.split) for r in s1.select("doc_id", "split").collect())
    b = sorted((r.doc_id, r.split) for r in s2.select("doc_id", "split").collect())
    assert a == b  # pure function of (id, salt)
    counts = dict((r.split, r["count"]) for r in
                  s1.groupBy("split").count().collect())
    n = sum(counts.values())
    assert counts.get("train", 0) / n > 0.7
    assert 0 < counts.get("val", 0) / n < 0.2
    assert 0 < counts.get("test", 0) / n < 0.2

    sampled = sample_by_hash(documents, "doc_id", 0.2)
    frac = sampled.count() / n
    assert 0.1 < frac < 0.3
    # sample is a subset, decided per-row: resampling agrees
    assert sample_by_hash(documents, "doc_id", 0.2).count() == sampled.count()


def test_split_salt_draws_independent_assignment(documents):
    from dask_ms_spark.llm.sampling import deterministic_split

    s1 = deterministic_split(documents, "doc_id", salt="a")
    s2 = deterministic_split(documents, "doc_id", salt="b")
    j = s1.select("doc_id", F.col("split").alias("sa")) \
          .join(s2.select("doc_id", F.col("split").alias("sb")), "doc_id")
    n = j.count()
    agree = j.where("sa = sb").count()
    # independent draws agree ~ sum(w^2) = 0.66, never ~1.0
    assert agree / n < 0.9


def test_contamination_flags_copied_grams(spark):
    from dask_ms_spark.llm.contamination import contamination_report

    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "prefix text the quick brown fox jumps over the lazy "
             "dog tonight and more"),       # contains the eval text
         (2, "completely unrelated content with no overlap at all "
             "whatsoever in it")],
        "doc_id long, text string")
    rep = contamination_report(train, eval_docs, n=20, min_hits=1)
    rows = {r.doc_id: r for r in rep.collect()}
    assert 1 in rows and 2 not in rows
    assert rows[1].n_hits >= 1
    assert 0 < rows[1].contamination <= 1.0
    # the 100 TB shape: eval grams reach the train side via a
    # broadcast hash join (no train-side payload shuffle)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_kmeans_separates_planted_clusters(spark):
    from dask_ms_spark.llm.clustering import kmeans_assign

    # two tight blobs far apart; ids interleaved so the lowest-id
    # init picks one seed from each blob (k=2)
    rows = []
    for i in range(20):
        blob = i % 2
        base = 0.0 if blob == 0 else 10.0
        vec = [base + 0.01 * ((i * 7 + j) % 5) for j in range(4)]
        rows.append((i, vec))
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_assign(embs, k=2, iters=2).collect()
    by_blob = {0: set(), 1: set()}
    for r in out:
        by_blob[r.vec_id % 2].add(r.cluster)
    # each blob maps to exactly one cluster, and they differ
    assert len(by_blob[0]) == 1 and len(by_blob[1]) == 1
    assert by_blob[0] != by_blob[1]
    assert all(r.dist < 1.0 for r in out)


def test_kmeans_deterministic_across_runs(spark):
    from dask_ms_spark.llm.clustering import kmeans_assign

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted((r.vec_id, r.cluster, r.dist)
               for r in kmeans_assign(embs, k=4, iters=2).collect())
    b = sorted((r.vec_id, r.cluster, r.dist)
               for r in kmeans_assign(embs, k=4, iters=2).collect())
    assert a == b


def test_kmeans_k_exceeding_n_and_empty_clusters(spark):
    from dask_ms_spark.llm.clustering import kmeans_assign

    # 3 vectors, k=8: init takes all 3 as centroids; every vector
    # sits on its own centroid (dist 0); clusters stay disjoint
    embs = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [9.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in kmeans_assign(embs, k=8, iters=2).collect()}
    assert len(out) == 3
    assert len({r.cluster for r in out.values()}) == 3
    assert all(r.dist == 0.0 for r in out.values())


def test_contamination_empty_eval_set(spark):
    from dask_ms_spark.llm.contamination import contamination_report

    train = spark.createDataFrame(
        [(1, "some training document text that is long enough")],
        "doc_id long, text string")
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert contamination_report(train, empty, n=20).count() == 0


# ---------------------------------------------------------------------------
# corpus-level analytics (llm/corpus.py)


def test_vocab_topk_counts(spark):
    """Occurrence + document frequencies vs a hand-counted corpus;
    deterministic tie-break on the token string."""
    from dask_ms_spark.llm.corpus import vocab_topk

    rows = [(1, "a b b c"), (2, "b c c"), (3, "a  a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.token, r.n_occurrences, r.n_docs)
           for r in vocab_topk(df, k=2).collect()]
    # a: 3 occ / 2 docs, b: 3 occ / 2 docs, c: 3 occ / 2 docs -> ties
    # break alphabetically
    assert got == [("a", 3, 2), ("b", 3, 2)]


def test_phrase_boilerplate_shared_vs_unique(spark):
    from dask_ms_spark.llm.corpus import phrase_boilerplate

    shared = "one two three four five"
    rows = [(1, shared + " alpha beta gamma delta epsilon"),
            (2, shared + " zeta eta theta iota kappa"),
            (3, "u1 u2 u3 u4 u5 u6")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in phrase_boilerplate(df, n=5).collect()}
    # doc 3: 2 distinct 5-grams, none shared
    assert got[3].n_shared == 0 and got[3].boilerplate_ratio == 0.0
    # docs 1/2 share exactly the "one two three four five" gram
    assert got[1].n_shared == 1 and got[2].n_shared == 1
    assert got[1].n_phrases == 6  # 10 words -> 6 distinct 5-grams


def test_quality_filter_reasons(spark):
    from dask_ms_spark.llm.corpus import QUALITY_REASONS, quality_filter

    long_ok = "the " + " ".join(f"w{i}" for i in range(30))
    rows = [(1, long_ok),                       # clean
            (2, "tiny doc only four the"),      # too short
            (3, "the " + "spam " * 40)]         # repeated + low diversity
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in quality_filter(df).collect()}
    assert got[1].keep and got[1].reasons == 0
    assert not got[2].keep
    assert got[2].reasons & QUALITY_REASONS["too_short"]
    assert not got[3].keep
    assert got[3].reasons & QUALITY_REASONS["repeated_word"]
    assert got[3].reasons & QUALITY_REASONS["low_diversity"]


def test_quality_filter_tokenless_text_too_short(spark):
    """Empty, whitespace-only and NULL text have no tokens: a
    ``too_short`` verdict with NULL ratios, never a missing row."""
    from dask_ms_spark.llm.corpus import QUALITY_REASONS, quality_filter

    rows = [(1, ""), (2, "    "), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(quality_filter(df).collect())
    assert [r.doc_id for r in got] == [1, 2, 3]
    for r in got:
        assert r.n_words == 0 and not r.keep
        assert r.reasons == QUALITY_REASONS["too_short"]
        assert r.distinct_ratio is None and r.max_word_frac is None \
            and r.stop_frac is None


def test_quality_filter_features_match_python_reference(spark):
    """Per-row features and verdicts equal a ``Counter`` over
    ``text.lower().split()`` on random documents with repeated words,
    mixed case, runs of whitespace and stopword-only text; rows that
    share a doc_id get one verdict each."""
    import random
    from collections import Counter

    from dask_ms_spark.llm.corpus import quality_filter

    rng = random.Random(5)
    vocab = ["the", "a", "The", "cat", "dog", "Sat", "on", "mat"] + \
        [f"w{i}" for i in range(40)]
    texts = ["the a the A", "the the the the", "spam " * 30]
    for _ in range(80):
        words = [rng.choice(vocab) for _ in range(rng.randrange(0, 60))]
        seps = [rng.choice([" ", "  ", "\t", " \n "]) for _ in words]
        texts.append(" " * rng.randrange(3) + "".join(
            w + s for w, s in zip(words, seps)).rstrip() + " ")
    rows = [(i, t) for i, t in enumerate(texts)] + [(0, texts[2])]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def reference(text):
        c = Counter(text.lower().split())
        n = sum(c.values())
        d, m, s = len(c), max(c.values(), default=0), c["the"] + c["a"]
        reasons = ((n < 20) | (n > 5000) << 1
                   | (n > 0 and d / n < 0.40) << 2
                   | (n > 0 and m / n > 0.12) << 3
                   | (n > 0 and (s == 0 or s / n > 0.10)) << 4)
        return n, d, m, s, reasons

    # the two doc_id 0 rows differ in length, so (id, n) is a key
    want = {(i, ref[0]): ref for i, t in rows for ref in [reference(t)]}
    got = quality_filter(df).collect()
    assert len(got) == len(rows) == len(want)
    assert sum(r.doc_id == 0 for r in got) == 2
    for r in got:
        n, d, m, s, reasons = want.pop((r.doc_id, r.n_words))
        assert (r.reasons, r.keep) == (reasons, reasons == 0)
        for ratio, num in ((r.distinct_ratio, d), (r.max_word_frac, m),
                           (r.stop_frac, s)):
            if n:
                assert ratio == pytest.approx(num / n, abs=1e-6)
            else:
                assert ratio is None


def test_minhash_table_matches_array_form(spark):
    """The one-expression aggregate signature equals the array form
    ``minhash_from_base(shingle_base_hashes(text))`` in value and type
    for every table width."""
    from dask_ms_spark.llm.dedup import (minhash_from_base, minhash_table,
                                         shingle_base_hashes)

    rows = [Row(doc_id=i, text=f"Document {i}: " + "lorem ipsum " * (i % 4)
                + "dolor sit amet " * (i % 3)) for i in range(12)]
    docs = spark.createDataFrame(rows)
    for k in (1, 8, 32, 64):
        table = minhash_table(docs, num_hashes=k)
        ref = docs.select(F.col("doc_id").alias("id"), minhash_from_base(
            shingle_base_hashes(F.col("text")), k).alias("sig"))
        assert table.schema["sig"].dataType == ref.schema["sig"].dataType
        assert sorted(table.collect()) == sorted(ref.collect())


def test_band_digests_match_column_form(spark):
    """Each element of the one-expression band array equals the Column
    API ``portable_hash64(concat_ws(",", ...), f"band{b}")``."""
    from dask_ms_spark.functions.text import portable_hash64
    from dask_ms_spark.llm.dedup import _bands, minhash_table

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"near duplicate text number {i} " * 2)
         for i in range(10)])
    sig = minhash_table(docs, num_hashes=32)
    for nb, r in ((8, 4), (4, 8), (32, 1)):
        ref = [portable_hash64(F.concat_ws(",", *[
            F.element_at("sig", b * r + j + 1).cast("string")
            for j in range(r)]), f"band{b}") for b in range(nb)]
        got = sig.select(_bands("sig", nb, r).alias("bands"),
                         F.array(*ref).alias("ref"))
        assert got.schema["bands"].dataType == got.schema["ref"].dataType
        assert all(row.bands == row.ref for row in got.collect())


def test_pii_scan_counts_and_redacts(spark):
    from dask_ms_spark.llm.corpus import pii_scan

    rows = [(1, "mail me at jane.doe+x@example.org or 192.168.0.1"),
            (2, "call 555-867-5309 ssn 123-45-6789"),
            (3, "clean text, nothing here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_scan(df).collect()}
    assert got[1].n_email == 1 and got[1].n_ipv4 == 1
    assert got[2].n_phone == 1 and got[2].n_ssn == 1
    assert got[3].n_email == got[3].n_phone == 0
    assert "[EMAIL]" in got[1].redacted and "[IPV4]" in got[1].redacted
    assert "jane.doe" not in got[1].redacted
    assert "[SSN]" in got[2].redacted
    assert got[3].redacted == rows[2][1]


def test_stratified_sample_rates_and_nesting(documents):
    """Per-stratum rates land near target, zero-rate empties the
    stratum, and lowering a rate yields a strict SUBSET (coordinated
    sampling via the shared id hash)."""
    from dask_ms_spark.llm.sampling import stratified_sample

    half = stratified_sample(documents, "doc_id", "source",
                             {"src1": 0.5, "src3": 0.0},
                             default_rate=1.0)
    rows = half.groupBy("source").count().collect()
    by_src = {r.source: r["count"] for r in rows}
    total = {r.source: r["count"] for r in
             documents.groupBy("source").count().collect()}
    assert "src3" not in by_src
    assert by_src.get("src0") == total["src0"]     # default keeps all
    # nested: the 0.2 sample of src1 is a subset of the 0.5 sample
    fifth = stratified_sample(documents, "doc_id", "source",
                              {"src1": 0.2}, default_rate=0.0)
    ids_half = {r.doc_id for r in half.where("source='src1'")
                .select("doc_id").collect()}
    ids_fifth = {r.doc_id for r in fifth.select("doc_id").collect()}
    assert ids_fifth <= ids_half

    with pytest.raises(ValueError, match="rate"):
        stratified_sample(documents, "doc_id", "source", {"src1": 1.5})
    with pytest.raises(ValueError, match="arity"):
        stratified_sample(documents, "doc_id", ["source", "lang"],
                          {"src1": 0.5})


def test_random_projection_matches_numpy(embeddings):
    """Projection values equal the literal-matrix matmul, and the plan
    is pure map-side codegen (no shuffle, no Python)."""
    from dask_ms_spark.llm.similarity import (projection_coefficients,
                                              random_projection)

    sample = embeddings.where("vec_id < 40")
    rows = sample.collect()
    dim = len(rows[0].embedding)
    proj = random_projection(sample, dim=dim, out_dim=3)
    got = {r.vec_id: [r.p0, r.p1, r.p2] for r in proj.collect()}
    planes = np.array([projection_coefficients("dask-ms-spark", j,
                                               dim) for j in range(3)])
    for r in rows:
        want = planes @ np.array(r.embedding, dtype=np.float64)
        assert np.allclose(got[r.vec_id], want, atol=1e-9)
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan
    # prefix property: a smaller dim uses the leading coefficients
    assert projection_coefficients("dask-ms-spark", 0, 16) == \
        projection_coefficients("dask-ms-spark", 0, 64)[:16]


def test_pack_sequences_layout_invariants(spark):
    """Concat-and-cut packing: within each bucket, offsets chain
    exactly (next start = prev start + prev tokens), spans match the
    windows a doc touches, and every context is filled to capacity
    except each bucket's tail."""
    from dask_ms_spark.llm.sampling import pack_sequences

    cap = 10
    rows = [(i, (i * 7) % 13 + 1) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = pack_sequences(df, "doc_id", "n", capacity=cap,
                         n_buckets=4).collect()
    assert len(out) == 60
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.pack_id >> 32, []).append(r)
    toks = dict(rows)
    assert len(by_bucket) > 1
    for b, docs in by_bucket.items():
        docs.sort(key=lambda r: r.doc_id)
        start = 0
        for r in docs:
            assert r.n_tokens == toks[r.doc_id]
            assert (r.pack_id & 0xFFFFFFFF) == start // cap
            assert r.pack_offset == start % cap
            last = (start + max(r.n_tokens, 1) - 1) // cap
            assert r.n_spans == last - start // cap + 1
            start += r.n_tokens

    with pytest.raises(ValueError, match="capacity"):
        pack_sequences(df, "doc_id", "n", capacity=0)


def test_lm_perplexity_matches_python_model(spark):
    """Scores equal a direct add-one bigram LM computation; repetitive
    (high-probability) text scores lower than novel combinations."""
    import math

    from dask_ms_spark.llm.corpus import lm_perplexity

    rows = [(1, "a b a b a b a b"),
            (2, "a b c d e f"),
            (3, "b a c a d a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in lm_perplexity(df).collect()}

    grams = {d: list(zip(t.split(), t.split()[1:])) for d, t in rows}
    allg = [g for gs in grams.values() for g in gs]
    c1: dict = {}
    c2: dict = {}
    for w1, w2 in allg:
        c1[w1] = c1.get(w1, 0) + 1
        c2[(w1, w2)] = c2.get((w1, w2), 0) + 1
    vocab = len({w for g in allg for w in g})
    scale = 1 << 20
    for d, gs in grams.items():
        qs = [round(-math.log((c2[g] + 1) / (c1[g[0]] + vocab)) * scale)
              for g in gs]
        want = round(sum(qs) / len(qs) / scale, 6)
        assert got[d].n_bigrams == len(gs)
        assert got[d].avg_neg_logp == pytest.approx(want, abs=2e-6)
    assert got[1].avg_neg_logp < got[2].avg_neg_logp


def test_lsh_bucket_cap_keeps_unique_pairs(spark):
    """max_bucket_size bounds the quadratic candidate blowup on
    boilerplate-heavy corpora: planted near-dup pairs with unique
    content land in small buckets and survive the cap; the
    boilerplate clone cluster (whose pairs belong to exact dedup) is
    what gets dropped."""
    import random

    from pyspark.sql import Row

    rng = random.Random(7)
    words = [f"w{i:03d}" for i in range(3000)]
    rows, expected = [], set()
    did = 0
    for p in range(15):                   # unique near-dup pairs
        base = rng.sample(words, 30)
        a, b = did, did + 1
        mut = list(base)
        mut[0] = rng.choice(words)        # 1-word mutation
        rows += [Row(doc_id=a, text=" ".join(base)),
                 Row(doc_id=b, text=" ".join(mut))]
        expected.add((a, b))
        did += 2
    template = " ".join(rng.sample(words, 30))
    for _ in range(120):                  # boilerplate clones
        rows.append(Row(doc_id=did, text=template))
        did += 1

    from dask_ms_spark.llm.dedup import lsh_jaccard_pairs

    docs = spark.createDataFrame(rows)
    capped = lsh_jaccard_pairs(docs, threshold=0.7, max_bucket_size=50)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert expected <= got                 # every planted pair found
    clone_ids = set(range(30, did))
    assert not any(a in clone_ids and b in clone_ids for a, b in got)


def test_decode_real_image_parity(spark):
    """GATED: when PIL is importable, decode_image_features over a
    real PNG must match numpy ground truth on the encoded raster, and
    a NON-image payload must still take the deterministic fake path
    (PIL's presence cannot change what undecodable payloads yield).
    Skipped where PIL is absent — the byte-level oracle family
    (binary_features) covers the Arrow plumbing there."""
    import io

    import numpy as np
    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.llm.multimodal import (HAVE_PIL,
                                              _decode_image_stub,
                                              decode_image_features)

    if not HAVE_PIL:
        pytest.skip("PIL not installed in this environment")
    from PIL import Image

    raster = (np.arange(24 * 16, dtype=np.uint8) % 251).reshape(24, 16)
    buf = io.BytesIO()
    Image.fromarray(raster, mode="L").save(buf, format="PNG")
    png = buf.getvalue()

    rows = [Row(media_id=1, kind="image", mime="image/png", width=16,
                height=24, n_frames=1, payload=bytearray(png)),
            Row(media_id=2, kind="image", mime=None, width=4,
                height=4, n_frames=1, payload=bytearray(b"not an image"))]
    media = spark.createDataFrame(rows)
    got = {r.media_id: r for r in decode_image_features(media).collect()}

    assert got[1].n_px == raster.size
    assert got[1].mean_px == pytest.approx(float(raster.mean()))
    assert got[1].std_px == pytest.approx(float(raster.std()))

    # undecodable payload: identical to the no-PIL deterministic fake
    fake = _decode_image_stub(b"not an image", 4, 4)
    seed = int.from_bytes(b"not an i", "big")
    expect = ((np.arange(16, dtype=np.uint64) + seed) % 251) \
        .astype(np.uint8).reshape(4, 4)
    assert (fake == expect).all()
    assert got[2].mean_px == pytest.approx(float(expect.mean()))


def test_demoted_queries_still_oracle_green(spark):
    """Demotion guard: every entry pulled from the driver registry
    (see __spark_entry__.demoted_queries) must still match its DuckDB
    oracle at sf0.001 — demotion bounds bench wall-clock, it must
    never silently drop correctness coverage."""
    import os
    import sys

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from tools.check_oracle import TABLES, frame_compare

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * "
                        f"FROM read_parquet('{p}')")
    qs = entrymod.demoted_queries()
    oracles = entrymod.demoted_oracle_sql()
    assert qs, "demotion registry unexpectedly empty"
    for name, fn in qs.items():
        sdf = fn(spark, sf_dir).toPandas()
        ddf = con.execute(oracles[name]).df()
        assert frame_compare(sdf, ddf) == [], name


def test_edit_distance_pairs_planted(spark):
    """Planted revision pairs are found with exact edit counts; an
    unrelated doc produces no pair; the banded threshold form drops
    over-cap candidates rather than scoring them."""
    from pyspark.sql import Row

    from dask_ms_spark.llm.dedup import edit_distance_pairs

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the quiet green forest tonight") * 2
    rev = base.replace("quick", "swift").replace("lazy", "sleepy")
    rows = [Row(doc_id=1, text=base), Row(doc_id=2, text=rev),
            Row(doc_id=3, text="completely different content here "
                               "about databases and query engines " * 4)]
    out = {(r.id_a, r.id_b): r for r in edit_distance_pairs(
        spark.createDataFrame(rows), max_edits=50, max_ratio=0.3,
        lsh_threshold=0.3).collect()}  # defaults: 32 hashes / 8 bands
    assert (1, 2) in out
    # 2x "quick"->"swift" (4 edits each: q->s, u->w, c->f, k->t... exact
    # count computed by the engine; just bound it) + 2x "lazy"->"sleepy"
    assert 0 < out[(1, 2)].edits <= 20
    assert all({a, b} == {1, 2} for a, b in out)

    # cap: max_edits=1 rejects the same pair (threshold form returns -1)
    none = edit_distance_pairs(
        spark.createDataFrame(rows), max_edits=1, max_ratio=0.3,
        lsh_threshold=0.3).collect()  # same candidates, capped verify
    assert not none


def _levenshtein(a: str, b: str) -> int:
    """Code-point Levenshtein distance, plain dynamic programming."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_kernel_paths_agree(spark, monkeypatch):
    """The Arrow/DuckDB edit-distance kernel and the JVM banded
    fallback must emit the identical pair set with identical edits —
    the band only ever hid distances that provably fail the filters,
    so the unbanded exact distance drops the same pairs.  Distances
    count code points on both paths (é, CJK and emoji pairs checked
    against a pure-Python Levenshtein): DuckDB's byte-based
    levenshtein must never score a non-ASCII pair."""
    pytest.importorskip("duckdb")
    import re

    from pyspark.sql import Row

    from dask_ms_spark.llm import dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lambda mu nu xi omicron pi rho sigma tau") * 3
    accents = "café résumé naïve señor déjà vu crème brûlée " * 4
    cjk = "数据湖 查询 引擎 分布式 计算 存储 格式 列式 压缩 索引 " * 4
    emoji = "rocket 🚀 launch 🌍 orbit 🛰 moon 🌕 mars 🔴 home 🏠 " * 4
    texts = {1: base,
             2: base.replace("gamma", "gimel").replace("sigma", "samekh"),
             3: base.replace("alpha", "aleph"),
             4: "unrelated words entirely disjoint "
                "vocabulary nothing shared " * 6,
             5: accents, 6: accents.replace("é", "e", 3),
             7: cjk, 8: cjk.replace("查询", "检索", 1),
             9: emoji, 10: emoji.replace("🚀", "🛸", 2)}
    df = spark.createDataFrame([Row(doc_id=k, text=v)
                                for k, v in texts.items()])

    def run():
        return sorted(
            (r.id_a, r.id_b, r.edits, r.edit_ratio)
            for r in dedup.edit_distance_pairs(
                df, max_edits=60, max_ratio=0.3,
                lsh_threshold=0.3).collect())

    got_duck = run()
    monkeypatch.setattr(dedup, "_duckdb_available", lambda: False)
    got_jvm = run()
    assert got_duck == got_jvm
    assert got_duck, "planted near-dups must survive"

    norm = {k: re.sub(r"\s+", " ", v.lower()).strip()
            for k, v in texts.items()}
    for a, b, edits, ratio in got_duck:
        want = _levenshtein(norm[a], norm[b])
        assert edits == want, (a, b)
        assert ratio == round(want / max(len(norm[a]), len(norm[b]), 1),
                              6)
    pairs = {(min(a, b), max(a, b)): e for a, b, e, _ in got_duck}
    assert pairs[5, 6] == 3          # three é -> e, one edit each
    assert pairs[7, 8] == 2 and pairs[9, 10] == 2


def test_pq_encode_codes_shape(spark):
    """PQ encoding: every vector gets num_sub codes in [0, num_codes);
    the codebook seed vectors encode to their own code in every
    subspace (distance 0 to themselves)."""
    from dask_ms_spark.llm.similarity import pq_codebooks, pq_encode

    rng = np.random.RandomState(7)
    rows = [Row(vec_id=i, embedding=[float(x) for x in rng.randn(16)])
            for i in range(40)]
    df = spark.createDataFrame(rows)
    cbs = pq_codebooks(df, dim=16, num_sub=4, num_codes=8)
    assert cbs.count() == 4 * 8
    codes = {r.id: r.codes for r in
             pq_encode(df, cbs, dim=16, num_sub=4).collect()}
    assert len(codes) == 40
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c)
               for c in codes.values())
    for sid in range(8):          # seed vectors self-encode
        assert codes[sid] == [sid] * 4


def test_pq_topk_clustered_recall_and_rerank(spark):
    """PQ asymmetric-distance top-k on planted clusters: decent
    recall from codes alone, and exact-cosine rerank of a wider
    candidate set strictly improves (or matches) recall; reranked
    scores equal the true cosine."""
    from dask_ms_spark.llm.similarity import pq_topk

    rng = np.random.RandomState(11)
    dim, n_clusters, per = 16, 8, 10
    centers = rng.randn(n_clusters, dim)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per):
            v = centers[c] + 0.05 * rng.randn(dim)
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows)
    queries = df.where("vec_id % 10 = 0")
    k = per - 1
    exact = brute_force_topk(df, queries, k=k).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(res):
        sets = {}
        for r in res:
            sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(exact_sets[q] & sets.get(q, set()))
                   / len(exact_sets[q]) for q in exact_sets) \
            / len(exact_sets)

    plain = pq_topk(df, queries, dim=dim, k=k, num_sub=4,
                    num_codes=16).collect()
    r_plain = recall(plain)
    assert r_plain >= 0.5        # codes-only, 4 bytes per vector

    rer = pq_topk(df, queries, dim=dim, k=k, num_sub=4, num_codes=16,
                  rerank=3 * k).collect()
    r_rer = recall(rer)
    assert r_rer >= max(r_plain, 0.8)
    # reranked cos_sim is the true cosine
    true_cos = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact}
    for r in rer:
        key = (r.query_id, r.neighbor_id)
        if key in true_cos:
            assert r.cos_sim == pytest.approx(true_cos[key], abs=1e-9)


def test_pq_distances_deterministic(spark):
    """Fixed-point PQ distances are identical across repeated runs and
    partitionings (order-free int sums)."""
    from dask_ms_spark.llm.similarity import pq_topk

    rng = np.random.RandomState(3)
    rows = [Row(vec_id=i, embedding=[float(x) for x in rng.randn(16)])
            for i in range(30)]
    df1 = spark.createDataFrame(rows)
    df8 = spark.createDataFrame(rows).repartition(8)
    q = df1.where("vec_id < 3")
    a = sorted((r.query_id, r.neighbor_id, r.approx_d, r.rank)
               for r in pq_topk(df1, q, dim=16, k=5, num_sub=4).collect())
    b = sorted((r.query_id, r.neighbor_id, r.approx_d, r.rank)
               for r in pq_topk(df8, q, dim=16, k=5, num_sub=4).collect())
    assert a == b


def test_pq_index_roundtrip(spark, tmp_path):
    """Persisted PQ index: query-time results are identical to the
    inline pq_topk on the same corpus, and the query-side scan reads
    ONLY the codes table (no raw-vector file in the plan)."""
    from dask_ms_spark.llm.similarity import (build_pq_index, pq_topk,
                                              pq_query_indexed)

    rng = np.random.RandomState(5)
    rows = [Row(vec_id=i, embedding=[float(x) for x in rng.randn(16)])
            for i in range(40)]
    df = spark.createDataFrame(rows)
    q = df.where("vec_id < 4")
    path = str(tmp_path / "pqidx")
    build_pq_index(df, path, dim=16, num_sub=4, num_codes=8)

    inline = sorted((r.query_id, r.neighbor_id, r.approx_d, r.rank)
                    for r in pq_topk(df, q, dim=16, k=5, num_sub=4,
                                     num_codes=8).collect())
    indexed_df = pq_query_indexed(spark, path, q, dim=16, k=5,
                                  num_sub=4)
    indexed = sorted((r.query_id, r.neighbor_id, r.approx_d, r.rank)
                     for r in indexed_df.collect())
    assert inline == indexed
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "codes" in plan and "cells" not in plan


def test_sample_temperature_rebalances(spark):
    """Temperature sampling: the rarest stratum is kept whole, the
    dominant stratum downsamples toward the alpha-adjusted share;
    alpha=1 keeps everything; determinism across runs; validation."""
    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.llm.sampling import sample_temperature

    rows = [Row(doc_id=i, src="big" if i < 900 else "small")
            for i in range(1000)]
    df = spark.createDataFrame(rows)

    out = sample_temperature(df, "doc_id", "src", alpha=0.5)
    by = {r.src: r.n for r in out.groupBy("src").count()
          .withColumnRenamed("count", "n").collect()}
    assert by["small"] == 100                 # rarest kept whole
    # big keeps ~ (900^0.5/900)/(100^0.5/100) = sqrt(100/900) = 1/3
    assert abs(by["big"] / 900 - 1 / 3) < 0.05
    # deterministic: same rows on re-run
    again = sample_temperature(df, "doc_id", "src", alpha=0.5)
    assert sorted(r.doc_id for r in out.collect()) == \
        sorted(r.doc_id for r in again.collect())

    full = sample_temperature(df, "doc_id", "src", alpha=1.0)
    assert full.count() == 1000               # natural mixture intact

    with pytest.raises(ValueError, match="alpha"):
        sample_temperature(df, "doc_id", "src", alpha=0.0)


def test_sample_temperature_rejects_bad_mass(spark):
    """A stratum whose mass is <= 0 raises instead of silently
    poisoning the rate normalisation with NaN."""
    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.llm.sampling import sample_temperature

    df = spark.createDataFrame(
        [Row(doc_id=0, src="a", n=0.0), Row(doc_id=1, src="b", n=5.0)])
    with pytest.raises(Exception, match="mass"):
        sample_temperature(df, "doc_id", "src", alpha=0.5,
                           count_col="n").collect()


def test_ivfpq_full_probe_equals_pq(spark):
    """IVF-PQ with nprobe == num_cells probes every cell, so the
    candidate set is the whole corpus and the ranking must equal
    plain PQ exactly; with fewer probes it returns a subset ranking
    with decent recall on clustered data."""
    from dask_ms_spark.llm.similarity import ivfpq_topk, pq_topk

    rng = np.random.RandomState(17)
    dim, n_clusters, per = 16, 4, 12
    centers = rng.randn(n_clusters, dim)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per):
            v = centers[c] + 0.05 * rng.randn(dim)
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows)
    q = df.where("vec_id % 12 = 0")

    full = sorted((r.query_id, r.neighbor_id, r.approx_d, r.rank)
                  for r in ivfpq_topk(df, q, dim=dim, k=5,
                                      num_cells=4, nprobe=4,
                                      num_sub=4, num_codes=8).collect())
    plain = sorted((r.query_id, r.neighbor_id, r.approx_d, r.rank)
                   for r in pq_topk(df, q, dim=dim, k=5, num_sub=4,
                                    num_codes=8).collect())
    assert full == plain

    sub = ivfpq_topk(df, q, dim=dim, k=5, num_cells=4, nprobe=2,
                     num_sub=4, num_codes=8, rerank=15).collect()
    assert len(sub) > 0 and all(hasattr(r, "cos_sim") for r in sub)


def test_curriculum_order_stages(spark):
    """Curriculum staging: stage 0 holds the top score quartile,
    stages are contiguous in score, (stage, pos, id) is a total
    deterministic order, and re-runs agree."""
    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.llm.sampling import curriculum_order

    rows = [Row(doc_id=i, score=float(i)) for i in range(100)]
    df = spark.createDataFrame(rows)
    out = curriculum_order(df, "doc_id", "score", n_stages=4)
    got = {r.id: r for r in out.collect()}
    assert len(got) == 100
    # scores 75..99 -> stage 0; 50..74 -> 1; 25..49 -> 2; 0..24 -> 3
    for i in range(100):
        assert got[i].stage == 3 - i // 25, i
    # deterministic across runs
    again = {r.id: (r.stage, r.pos) for r in curriculum_order(
        df, "doc_id", "score", n_stages=4).collect()}
    assert again == {i: (r.stage, r.pos) for i, r in got.items()}
    # total order has no duplicate keys
    keys = [(r.stage, r.pos, r.id) for r in got.values()]
    assert len(set(keys)) == 100

    with pytest.raises(ValueError, match="n_stages"):
        curriculum_order(df, "doc_id", "score", n_stages=1)


def test_dsir_weights_match_python_model(spark):
    """DSIR importance scores checked against an exact python model
    (same md5 bucket hash, same add-s estimates, same 1e-6
    fixed-point quantisation), including the zero-token document."""
    import hashlib
    import math

    from dask_ms_spark.llm.dsir import dsir_resample, dsir_weights

    raw_rows = [
        (1, "the cat sat on the mat"),
        (2, "quantum field theory lecture notes"),
        (3, "the dog sat on the log"),
        (4, "field notes on quantum systems"),
        (5, ""),                       # zero tokens -> kept at 0
    ]
    tgt_rows = [
        (100, "quantum theory of fields"),
        (101, "notes on quantum field dynamics"),
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(tgt_rows, "doc_id long, text string")

    B, s, Q = 64, 1.0, 1_000_000

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    def counts(rows):
        c = {}
        for _, text in rows:
            for t in text.lower().split():
                c[bucket(t)] = c.get(bucket(t), 0) + 1
        return c

    rc, tc = counts(raw_rows), counts(tgt_rows)
    R, T = sum(rc.values()), sum(tc.values())

    def lam_q(b):
        return round((math.log((tc.get(b, 0) + s) / (T + s * B))
                      - math.log((rc.get(b, 0) + s) / (R + s * B)))
                     * Q)

    want = {}
    for did, text in raw_rows:
        toks = text.lower().split()
        want[did] = (len(toks),
                     sum(lam_q(bucket(t)) for t in toks) / Q)

    got = {r.id: (r.n_tokens, r.log_weight)
           for r in dsir_weights(raw, tgt, n_buckets=B).collect()}
    assert set(got) == set(want)
    for did in want:
        assert got[did][0] == want[did][0], did
        assert abs(got[did][1] - want[did][1]) < 1e-9, did
    assert got[5] == (0, 0.0)

    # full deterministic ranking equals the python model's: the
    # zero-token doc sits at exactly 0, the quantum/field docs
    # outrank the cat/dog docs among the non-empty ones
    model_order = [d for d, _ in sorted(
        want.items(), key=lambda kv: (-kv[1][1], kv[0]))]
    order = [r.id for r in dsir_resample(raw, tgt, 5,
                                         n_buckets=B).collect()]
    assert order == model_order
    assert order.index(2) < order.index(1) < order.index(3)
    assert order.index(4) < order.index(1)

    with pytest.raises(ValueError, match="smoothing"):
        dsir_weights(raw, tgt, smoothing=0.0)
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_weights(raw, tgt, n_buckets=0)
    with pytest.raises(ValueError, match="n must be"):
        dsir_resample(raw, tgt, 0)


def test_dsir_target_pred_equals_target_frame(spark):
    """r12 optimization: when the target is a slice of the raw
    corpus, ``target_pred`` (single-tokenize flag path) must yield
    row-identical weights to passing the slice as a separate
    ``target`` DataFrame — and exactly one of the two must be
    given."""
    from pyspark.sql import functions as F

    from dask_ms_spark.llm.dsir import dsir_weights

    rows = [(1, "the cat sat on the mat", "src1"),
            (2, "quantum field theory notes", "src2"),
            (3, "the dog sat on the log", "src1"),
            (4, "field notes on quantum systems", "src2"),
            (5, "", "src1")]
    raw = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    via_frame = {(r.id, r.n_tokens, round(r.log_weight, 9))
                 for r in dsir_weights(
                     raw, raw.where(F.col("source") == "src1"),
                     n_buckets=64).collect()}
    via_pred = {(r.id, r.n_tokens, round(r.log_weight, 9))
                for r in dsir_weights(
                    raw, target_pred=F.col("source") == "src1",
                    n_buckets=64).collect()}
    assert via_frame == via_pred

    with pytest.raises(ValueError, match="exactly one"):
        dsir_weights(raw)
    with pytest.raises(ValueError, match="exactly one"):
        dsir_weights(raw, raw, target_pred=F.lit(True))


def test_logistic_train_matches_python_model(spark):
    """Logistic GD checked against an exact python replica (same
    quantisation, same update order), and the learned boundary
    separates a linearly separable toy set."""
    import math

    from dask_ms_spark.llm.classifier import (logistic_score,
                                              logistic_train)

    rows = [(float(i), 1.0 if i >= 5 else 0.0) for i in range(10)]
    df = spark.createDataFrame(rows, "x double, y double")

    Q = float(1 << 20)

    def model(iters, lr):
        w = [0.0, 0.0]
        data = rows
        for _ in range(iters):
            n = len(data)
            g = [0, 0]
            for x, y in data:
                p = 1.0 / (1.0 + math.exp(-(w[0] + w[1] * x)))
                r = y - p

                # half-away-from-zero like Spark's F.round on doubles
                def rnd(v):
                    return int(math.copysign(
                        math.floor(abs(v) + 0.5), v))

                g[0] += rnd(r * Q)
                g[1] += rnd(r * x * Q)
            w = [wj + lr * (gj / Q) / n for wj, gj in zip(w, g)]
        return w

    for iters, lr in ((1, 1.0), (3, 0.7)):
        got = logistic_train(df, ["x"], "y", iters=iters, lr=lr)
        want = model(iters, lr)
        assert all(abs(a - b) < 1e-12 for a, b in zip(got, want)), \
            (iters, got, want)

    w = logistic_train(df, ["x"], "y", iters=20, lr=1.0)
    scored = {r.x: r.score for r in
              logistic_score(df, ["x"], w).collect()}
    assert all(scored[x] > 0.5 for x in (7.0, 8.0, 9.0))
    assert all(scored[x] < 0.5 for x in (0.0, 1.0, 2.0))

    with pytest.raises(ValueError, match="iters"):
        logistic_train(df, ["x"], "y", iters=0)
    with pytest.raises(ValueError, match="weights"):
        logistic_score(df, ["x"], [0.1, 0.2, 0.3])


def test_ngram_novelty_matches_python(spark):
    """Per-doc novelty vs a python set model: duplicated docs score
    0, unique docs 1, the mixed doc in between; reference-corpus mode
    scores against the other frame."""
    from pyspark.sql import Row

    from dask_ms_spark.llm.corpus import ngram_novelty

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # dup of 0
        (2, "entirely original sentence about spark physics here"),
        (3, "the quick brown fox went somewhere entirely new today"),
        (4, "hi"),                                   # < n tokens
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in
           ngram_novelty(df, n=3).collect()}

    # python model
    def grams(t):
        w = t.lower().split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    from collections import Counter
    dfreq = Counter()
    per = {i: grams(t) for i, t in docs}
    for gs in per.values():
        for g in gs:
            dfreq[g] += 1
    for i, t in docs:
        gs = per[i]
        if not gs:
            assert out[i].n_distinct == 0 and out[i].novelty is None
            continue
        novel = sum(1 for g in gs if dfreq[g] == 1)
        assert out[i].n_distinct == len(gs)
        assert out[i].n_novel == novel
        assert abs(out[i].novelty - novel / len(gs)) < 1e-12
    assert out[0].novelty == 0.0 and out[1].novelty == 0.0
    assert out[2].novelty == 1.0
    assert 0.0 < out[3].novelty < 1.0

    # reference mode: doc 3 vs corpus {0} — shared prefix grams seen
    ref = spark.createDataFrame(docs[:1], "doc_id long, text string")
    r3 = {r.doc_id: r for r in ngram_novelty(
        df.where("doc_id = 3"), n=3, reference=ref).collect()}[3]
    shared = sum(1 for g in per[3] if g in per[0])
    assert r3.n_novel == len(per[3]) - shared

    import pytest

    with pytest.raises(ValueError, match="n must be"):
        ngram_novelty(df, n=0)


def test_containment_pairs_finds_quotes(spark):
    """Asymmetric containment: a snippet pasted into a much larger
    doc is found at high containment despite low Jaccard (which the
    resemblance threshold would miss); containment values match a
    python shingle-set model."""
    from dask_ms_spark.llm.dedup import (containment_pairs,
                                         lsh_jaccard_pairs,
                                         normalize_text)

    snippet = ("the five boxing wizards jump quickly over the lazy "
               "riverbank while autumn leaves fall")
    filler = " ".join(f"unique filler word{i} segment{i * 7}"
                      for i in range(40))
    big = filler[:len(filler) // 2] + " " + snippet + " " \
        + filler[len(filler) // 2:]
    docs = [(0, snippet), (1, big),
            (2, "completely unrelated text about spark physics")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = containment_pairs(df, threshold=0.8).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.id_a, r.id_b) == (0, 1)
    assert r.cont_a_in_b > 0.95          # snippet ⊂ big
    assert r.cont_b_in_a < 0.5           # big ⊄ snippet

    # python model of the exact containment on shingle sets
    def shingles(t):
        s = " ".join(t.lower().split())
        return {s[i:i + 5] for i in range(len(s) - 4)}

    sa, sb = shingles(docs[0][1]), shingles(docs[1][1])
    want = len(sa & sb) / len(sa)
    assert abs(r.cont_a_in_b - want) < 2e-3  # hash collisions mod P

    # the same pair is BELOW a resemblance threshold: jaccard ~ r·t
    jac = lsh_jaccard_pairs(df, threshold=0.5,
                            prefilter_margin=0.5).collect()
    assert all((p.id_a, p.id_b) != (0, 1) for p in jac)


def test_dedup_paragraphs_ccnet(spark):
    """CCNet paragraph dedup: the first occurrence of a repeated
    paragraph (by (doc, position) order) survives, later copies are
    removed, documents rebuild in original paragraph order, and
    whitespace-normalised variants collide."""
    from dask_ms_spark.llm.corpus import dedup_paragraphs

    boiler = "subscribe to our newsletter"
    docs = [
        (0, f"alpha one\n\n{boiler}\n\nbeta two"),
        (1, f"{boiler}\n\ngamma three"),          # boiler dup -> drop
        (2, "gamma  three\n\ndelta four"),        # ws-variant of doc1's
        (3, f"{boiler.upper()}\n\nepsilon"),      # case-variant -> dup
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_paragraphs(df).collect()}

    assert out[0].text == docs[0][1]              # all first occurrences
    assert out[0].n_paragraphs == 3 and out[0].n_kept == 3
    assert out[1].text == "gamma three"
    assert out[1].n_kept == 1
    # doc2's "gamma  three" normalises equal to doc1's "gamma three",
    # which came earlier -> dropped
    assert out[2].text == "delta four"
    assert out[3].text == "epsilon"

    # a doc that is ALL duplicates rebuilds to the empty string
    df2 = spark.createDataFrame(
        [(0, "x\n\ny"), (1, "x\n\ny")], "doc_id long, text string")
    out2 = {r.doc_id: r for r in dedup_paragraphs(df2).collect()}
    assert out2[0].text == "x\n\ny"
    assert out2[1].text == "" and out2[1].n_kept == 0


def test_sample_unimax_waterfill(spark):
    """UniMax allocation vs a python capped-waterfill model: budget
    splits as uniformly as caps allow, capped groups take exactly
    max_epochs passes, upsampled groups materialise repeated epochs,
    and realised masses track the allocation."""
    import math

    from dask_ms_spark.llm.sampling import sample_unimax

    # groups: tiny (upsampled to cap), mid, huge (waterfilled down)
    sizes = {"tiny": 50, "mid": 400, "huge": 2000}
    rows = [(f"{g}-{i}", g) for g, m in sizes.items()
            for i in range(m)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    budget, max_epochs = 1200.0, 2.0

    # python waterfill: t* with sum min(cap, t*) = budget
    caps = {g: m * max_epochs for g, m in sizes.items()}
    lo, hi = 0.0, max(caps.values())
    for _ in range(200):
        t = (lo + hi) / 2
        if sum(min(c, t) for c in caps.values()) < budget:
            lo = t
        else:
            hi = t
    alloc = {g: min(c, t) for g, c in caps.items()}
    assert abs(sum(alloc.values()) - budget) < 1e-6

    out = sample_unimax(df, "doc_id", "source", budget,
                        max_epochs=max_epochs)
    got = out.groupBy("source").count().collect()
    got = {r.source: r["count"] for r in got}
    for g, m in sizes.items():
        want = alloc[g]
        # full epochs are exact; the partial epoch is a ~hash-rate
        # subset, so allow sampling tolerance on the fractional part
        assert abs(got[g] - want) <= max(8, 0.1 * m), (g, got[g], want)
    # tiny is capped at exactly max_epochs full passes (frac 0)
    assert got["tiny"] == sizes["tiny"] * int(max_epochs)
    eps = {r.epoch for r in out.where("source = 'tiny'")
           .select("epoch").distinct().collect()}
    assert eps == {0, 1}

    # budget >= sum of caps: every group takes all its caps
    full = sample_unimax(df, "doc_id", "source", 1e9, max_epochs=2.0)
    assert full.count() == sum(int(2 * m) for m in sizes.values())

    import pytest

    with pytest.raises(ValueError, match="budget"):
        sample_unimax(df, "doc_id", "source", 0.0)


def test_c4_line_filter_rules(spark):
    """C4 line cleaning: terminal punctuation + min words + banned
    substrings at line level; min_lines at doc level; text rebuilt
    from survivors in original order."""
    from dask_ms_spark.llm.corpus import c4_line_filter

    good = ["First complete sentence with enough words here.",
            "Second complete sentence with enough words too!",
            'Third quoted sentence has plenty of words, "really."']
    doc1 = "\n".join([good[0], "too short.", good[1],
                      "function f() { return 1; } and some words.",
                      "this line has no terminal punctuation at all",
                      good[2]])
    docs = spark.createDataFrame(
        [(1, doc1),
         (2, "Only one good sentence lives in this document."),
         (3, "")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in c4_line_filter(docs).collect()}
    assert got[1].keep and got[1].n_kept == 3 and got[1].n_lines == 6
    assert got[1].text == "\n".join(good)     # order preserved
    assert not got[2].keep and got[2].n_kept == 1
    assert not got[3].keep and got[3].text == ""
    # case-insensitive banned match drops the line
    jd = spark.createDataFrame(
        [(9, "Visit our site with JavaScript enabled please now.")],
        "doc_id long, text string")
    assert c4_line_filter(jd).first().n_kept == 0


def test_leakage_safe_split_no_cross_split_neighbors(spark):
    """Every near-dup pair lands in ONE split (the property per-doc
    splitting violates), singletons split like deterministic_split,
    and proportions stay roughly right."""
    from dask_ms_spark.llm.sampling import (deterministic_split,
                                            leakage_safe_split)

    n = 2000
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    # chain 4k..4k+3 into one cluster for the first 100 quadruples
    edges = []
    for k in range(100):
        base = 4 * k
        edges += [(base, base + 1), (base + 1, base + 2),
                  (base + 2, base + 3)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = leakage_safe_split(docs, pairs).collect()
    assert len(out) == n
    split_of = {r.doc_id: r.split for r in out}
    comp_of = {r.doc_id: r.component for r in out}
    for a, b in edges:                 # no pair straddles a boundary
        assert split_of[a] == split_of[b]
        assert comp_of[a] == comp_of[b] == min(a, b) - min(a, b) % 4
    # singletons (ids >= 400) match the plain per-id split exactly
    plain = {r.doc_id: r.split for r in deterministic_split(
        docs.where(F.col("doc_id") >= 400), "doc_id").collect()}
    for i, s in plain.items():
        assert split_of[i] == s
    # proportions: train should dominate
    from collections import Counter
    c = Counter(split_of.values())
    assert c["train"] > 0.7 * n and c["test"] > 0.05 * n


def test_ccnet_buckets_per_lang_terciles(spark):
    """Per-language equal-population buckets; head scores <= tail
    scores within every language; unscoreable docs excluded."""
    from collections import Counter

    from dask_ms_spark.llm.corpus import ccnet_perplexity_buckets

    rows = []
    did = 0
    for lang in ("en", "fr"):
        for k in range(12):
            # fluent docs repeat common bigrams; gibberish is unique
            text = ("the cat sat on the mat " * 3 if k < 6
                    else f"zx{did}q wv{did}j kp{did}m nd{did}t")
            rows.append((did, text, lang))
            did += 1
    rows.append((did, "", "en"))          # no bigrams -> unbucketed
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "lang string")
    out = ccnet_perplexity_buckets(docs).collect()
    assert all(r.doc_id != did for r in out)      # empty doc dropped
    for lang in ("en", "fr"):
        sub = [r for r in out if r.lang == lang]
        assert len(sub) == 12
        c = Counter(r.bucket for r in sub)
        assert c == {"head": 4, "middle": 4, "tail": 4}
        hmax = max(r.avg_neg_logp for r in sub if r.bucket == "head")
        tmin = min(r.avg_neg_logp for r in sub if r.bucket == "tail")
        assert hmax <= tmin


def test_lm_perplexity_kneser_ney_exact(spark):
    """Interpolated KN matches an exact python mirror on a tiny
    corpus (seen bigrams, backoff under a seen w1, wholly unseen w1)
    and still ranks gibberish above fluent text."""
    import math
    from collections import Counter

    from dask_ms_spark.llm.corpus import lm_perplexity

    lm_texts = ["the cat sat", "the cat ran", "the dog sat",
                "a cat sat"]
    lm = spark.createDataFrame(
        [(i, t) for i, t in enumerate(lm_texts)],
        "doc_id long, text string")
    # doc 0: all seen; doc 1: unseen bigram under seen w1 ('the a');
    # doc 2: wholly unseen w1 ('zz the')
    score_texts = ["the cat sat", "the a", "zz the"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(score_texts)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in lm_perplexity(
        docs, lm, smoothing="kneser_ney").collect()}

    # python mirror
    d = 0.75
    grams = [(ws[i], ws[i + 1]) for t in lm_texts
             for ws in [t.split()] for i in range(len(ws) - 1)]
    c2 = Counter(grams)
    c1 = Counter(g[0] for g in grams)
    nf = Counter(g[0] for g in set(grams))
    nb = Counter(g[1] for g in set(grams))
    n_types = len(set(grams))
    vocab = len({w for g in grams for w in g})

    def p_kn(w1, w2):
        pc = nb.get(w2, 0) / n_types
        if (w1, w2) in c2:
            p = (max(c2[(w1, w2)] - d, 0) / c1[w1]
                 + d * nf[w1] / c1[w1] * pc)
        elif w1 in c1:
            p = d * nf[w1] / c1[w1] * pc
        else:
            p = pc
        return p if p > 0 else d / vocab

    qs = float(1 << 20)
    for i, t in enumerate(score_texts):
        ws = t.split()
        qsum = sum(round(-math.log(p_kn(ws[j], ws[j + 1])) * qs)
                   for j in range(len(ws) - 1))
        want = round(qsum / (len(ws) - 1) / qs, 6)
        assert got[i].avg_neg_logp == want, (i, got[i], want)

    # fluency ranking on the self-scored corpus
    fluent = ["the cat sat on the mat " * 3] * 4
    gib = [f"qq{i}x wy{i}z jk{i}m" for i in range(4)]
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(fluent + gib)],
        "doc_id long, text string")
    s = {r.doc_id: r.avg_neg_logp for r in lm_perplexity(
        corpus, smoothing="kneser_ney").collect()}
    assert max(s[i] for i in range(4)) < min(s[i] for i in range(4, 8))


def test_heaps_fit_zipfian_corpus(spark):
    """Heaps' law on a Zipfian corpus lands in the textbook beta
    range; a saturated (tiny-vocab) corpus flattens below it; the
    too-small guard raises."""
    import numpy as np
    import pytest as _pytest

    from dask_ms_spark.llm.corpus import heaps_fit

    rng = np.random.RandomState(1)
    vocab = [f"w{i}" for i in range(3000)]
    p = 1.0 / np.arange(1, 3001)
    p /= p.sum()
    docs = [(i, " ".join(rng.choice(vocab, size=200, p=p)))
            for i in range(60)]
    got = heaps_fit(spark.createDataFrame(
        docs, "doc_id long, text string")).first()
    assert got.n_tokens == 60 * 200
    assert 0.6 < got.heaps_beta < 0.95          # natural-text range
    assert got.heaps_k > 0

    flat_docs = [(i, " ".join(rng.choice(["a", "b", "c"], size=200)))
                 for i in range(60)]
    flat = heaps_fit(spark.createDataFrame(
        flat_docs, "doc_id long, text string")).first()
    assert flat.vocab_size == 3
    assert flat.heaps_beta < 0.2                # saturated

    with _pytest.raises(ValueError, match="at least 2"):
        heaps_fit(spark.createDataFrame([(1, "x")],
                                        "doc_id long, text string"))


def test_lsh_plan_tracks_threshold():
    """The chosen banding's S-curve midpoint (1/b)^(1/r) tracks the
    target threshold, r grows with threshold (steeper curve), and the
    budget is respected; degenerate inputs raise."""
    import pytest

    from dask_ms_spark.llm.dedup import lsh_plan

    assert lsh_plan(0.5, 32) == (8, 4)
    prev_r = 0
    for t in (0.3, 0.5, 0.75, 0.9):
        b, r = lsh_plan(t, 64)
        assert b * r <= 64 and b >= 1 and r >= 1
        assert r >= prev_r            # steeper curve needs more rows
        prev_r = r
        mid = (1.0 / b) ** (1.0 / r)  # p(mid) ~ 1 - 1/e inflection
        assert abs(mid - t) < 0.25
    # recall-weighted planning never picks FEWER bands (more bands =
    # higher candidate probability at every s)
    b0, r0 = lsh_plan(0.7, 64, fn_weight=1.0)
    b5, r5 = lsh_plan(0.7, 64, fn_weight=5.0)
    assert b5 >= b0 or r5 <= r0
    with pytest.raises(ValueError):
        lsh_plan(1.0, 32)
    with pytest.raises(ValueError):
        lsh_plan(0.5, 1)


def test_samplers_fail_loud_and_keep_null_strata(spark):
    """Review r8: sample_to_mixture raises on a NULL/zero token sum
    (instead of silently keeping the stratum whole via least(1,NULL)
    = 1); NULL stratum keys survive the rate join (eqNullSafe) in
    sample_temperature; sample_weighted raises when any row carries a
    NULL weight instead of silently biasing the sample."""
    import pytest
    from pyspark.sql import Row
    from dask_ms_spark.llm.sampling import (sample_temperature,
                                            sample_to_mixture,
                                            sample_weighted)

    bad = spark.createDataFrame(
        [Row(doc_id=i, src="a", toks=None) for i in range(5)],
        "doc_id long, src string, toks int")
    with pytest.raises(Exception, match="NULL or <= 0"):
        sample_to_mixture(bad, "doc_id", "src", {"a": 1.0},
                          budget_tokens=100, token_col="toks").count()

    with_null = spark.createDataFrame(
        [Row(doc_id=i, src=None if i % 5 == 0 else f"s{i % 2}")
         for i in range(200)])
    out = sample_temperature(with_null, "doc_id", "src", alpha=0.7)
    # NULL is a first-class stratum: its rows are eligible, and the
    # head stratum is downsampled below 1.0 so SOME rows drop
    srcs = {r.src for r in out.select("src").distinct().collect()}
    assert None in srcs
    assert out.count() < with_null.count()

    w_null = spark.createDataFrame(
        [Row(doc_id=i, w=None if i == 3 else float(i + 1))
         for i in range(10)])
    with pytest.raises(Exception, match="NULL weights"):
        sample_weighted(w_null, "doc_id", "w").count()


def test_dedup_guards_fail_loud(spark):
    """Review r8 guards: a banding with rows_per_band 0 raises
    (instead of an all-pairs self-join), num_hashes beyond the baked
    permutation table raises (instead of IndexError mid-job), simhash
    bits beyond the 60-bit hash width raise (instead of dead
    signature bits), and a wrong dim raises from the bucketed
    embedding dedup (instead of silently returning zero pairs)."""
    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.llm.dedup import (embedding_dup_pairs_bucketed,
                                         minhash_from_base,
                                         minhash_lsh_pairs, simhash,
                                         with_simhash)

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"document number {i} " * 3)
         for i in range(6)])
    with pytest.raises(ValueError, match="rows_per_band"):
        minhash_lsh_pairs(docs, num_hashes=4, num_bands=8)
    with pytest.raises(ValueError, match="num_hashes"):
        minhash_from_base(None, num_hashes=128)
    with pytest.raises(ValueError, match="bits"):
        simhash(None, bits=1)
    with pytest.raises(ValueError, match="bits"):
        with_simhash(docs, bits=1)
    # the documented default bits=64 must WORK: it clamps to the 60
    # usable vote bits with a warning, not a ValueError (review r9 —
    # the r8 guard rejected the function's own default signature)
    import warnings as _warnings

    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        col = simhash(F.col("text"))  # default bits=64
        sig64 = docs.select(col.alias("s")).collect()
    assert any("clamped" in str(x.message) for x in w)
    sig61 = docs.select(
        simhash(F.col("text"), bits=61).alias("s")).collect()
    assert [r.s for r in sig64] == [r.s for r in sig61]

    embs = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i)] * 8) for i in range(4)])
    with pytest.raises(Exception, match="dim=64"):
        embedding_dup_pairs_bucketed(embs, dim=64).count()


def test_snapshot_failed_publish_leaves_no_stale_tables(spark,
                                                        tmp_path):
    """A retried publish of the same version must not commit tables
    left by the failed attempt (review r8)."""
    import os

    from dask_ms_spark.operators.snapshot import (publish_snapshot,
                                                  read_snapshot)

    store = str(tmp_path / "snap")
    a = spark.range(5).selectExpr("id AS k")
    publish_snapshot({"t1": a, "t2": a, "stale": a}, store)
    # simulate: v1 publish crashed after writing 'stale', retried
    # WITHOUT it — manufacture the debris then re-publish
    v1 = os.path.join(store, "v1")
    os.makedirs(os.path.join(v1, "stale"))
    publish_snapshot({"t1": a, "t2": a}, store)
    got = read_snapshot(spark, store)
    assert set(got) == {"t1", "t2"}


def test_cache_scope_releases_every_internal_persist(spark):
    """Scoped cache lifecycle (r8 verdict item 1): every library
    persist() has a paired release.  For each LSH/containment/LM
    entry point, the spark cacheManager returns to its pre-call
    state after the cache_scope exits; release_caches() frees
    unscoped registrations without touching USER caches."""
    from dask_ms_spark.cache import (cache_scope, release_caches,
                                     scoped_persist)
    from dask_ms_spark.llm.corpus import lm_perplexity
    from dask_ms_spark.llm.dedup import (containment_pairs,
                                         lsh_jaccard_pairs,
                                         minhash_lsh_pairs)

    cm = spark._jsparkSession.sharedState().cacheManager()
    # clean slate: the shared test session may carry caches from
    # earlier test files, which would fail the isEmpty() attribution
    # checks below through no fault of the scopes under test
    spark.catalog.clearCache()
    # a USER cache that must survive the library's release paths
    user = spark.range(10).persist()
    user.count()
    assert not cm.isEmpty()

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"shared boilerplate text {i % 4} tail {i}")
         for i in range(24)])
    entry_points = [
        lambda: minhash_lsh_pairs(docs, num_hashes=16, num_bands=4),
        lambda: lsh_jaccard_pairs(docs, num_hashes=16, num_bands=4),
        lambda: containment_pairs(docs),
        lambda: lm_perplexity(docs, smoothing="kneser_ney"),
    ]
    for fn in entry_points:
        with cache_scope() as sc:
            fn().count()
            assert sc.n_tracked >= 1       # the persist registered
        # after scope exit only the user cache remains: the user's
        # entry survived, and dropping it empties the cacheManager —
        # attributing any leak to THIS entry point (review r9: the
        # previous spelling `not X or True` asserted nothing)
        assert user.storageLevel.useMemory
        user.unpersist(blocking=True)
        assert cm.isEmpty(), "library persist leaked past its scope"
        user = spark.range(10).persist()
        user.count()
    # unscoped path: registrations accumulate, release frees them all
    release_caches()     # drain anything earlier tests registered
    assert release_caches() == 0
    for fn in entry_points:
        fn().count()
    freed = release_caches()
    assert freed >= len(entry_points)
    # user cache untouched throughout
    assert user.count() == 10
    assert not cm.isEmpty()               # user's entry still cached
    user.unpersist(blocking=True)
    assert cm.isEmpty()
    # scoped_persist inside a scope does not leak into the registry
    with cache_scope():
        scoped_persist(spark.range(5)).count()
    assert release_caches() == 0
    assert cm.isEmpty()


def test_cache_scope_is_thread_local(spark):
    """Concurrent driver threads each in their own cache_scope must
    not cross-register (review r9: a global stack let thread A's
    scope exit unpersist thread B's frames mid-pipeline)."""
    import threading

    from dask_ms_spark.cache import cache_scope, scoped_persist

    tracked = {}
    barrier = threading.Barrier(2)
    errs = []

    def worker(name):
        try:
            with cache_scope() as sc:
                barrier.wait(timeout=30)   # both scopes active at once
                df = scoped_persist(spark.range(100 + len(name)))
                df.count()
                barrier.wait(timeout=30)   # both persists registered
                tracked[name] = sc.n_tracked
                # the OTHER thread's scope exit must not have freed
                # this thread's frame
                assert df.storageLevel.useMemory
        except Exception as e:            # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(n,))
          for n in ("a", "bb")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=60)
    assert not errs
    assert tracked == {"a": 1, "bb": 1}   # one frame per scope, not 0/2


def test_literal_planes_bit_identical_to_per_element_lits(embeddings):
    """Hyperplane and projection planes built as one SQL array of
    double literals give the same bits as per-element ``F.lit``
    arrays."""
    import struct

    from dask_ms_spark.functions.vector import dot
    from dask_ms_spark.llm.similarity import (_seeded_unit,
                                              hyperplane_signature,
                                              projection_coefficients,
                                              random_projection)

    sample = embeddings.where("vec_id < 40")
    dim = len(sample.first().embedding)
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def lits(vals):
        return F.array(*[F.lit(v) for v in vals])

    want_proj = sample.select("vec_id", *[
        dot(vec, lits(projection_coefficients("dask-ms-spark", j, dim)))
        .alias(f"p{j}") for j in range(4)])
    bucket = F.lit(0)
    for j in range(8):
        bit = (dot(vec, lits(_seeded_unit(f"dask-ms-spark:{j}", dim)))
               >= 0).cast("int")
        bucket = bucket + bit * F.lit(2 ** j)
    want_sig = sample.select("vec_id", bucket.alias("sig"))

    def bits(rows):
        return sorted(tuple(struct.pack("<d", v) if isinstance(v, float)
                            else v for v in r) for r in rows)

    got_proj = random_projection(sample, dim=dim, out_dim=4)
    assert bits(got_proj.collect()) == bits(want_proj.collect())
    got_sig = sample.select("vec_id", hyperplane_signature(
        vec, dim, num_planes=8).alias("sig"))
    assert sorted(got_sig.collect()) == sorted(want_sig.collect())
    # every element of the literal round-trips exactly, tiny and
    # negative values included
    from dask_ms_spark.llm.similarity import _double_array

    vals = [1e-05, -0.5, 0.1, -1.0, 5e-324, 1.7976931348623157e308,
            -0.0, 2.0 ** -40]
    got = sample.sparkSession.range(1).select(
        _double_array(vals).alias("a")).first().a
    assert [struct.pack("<d", v) for v in got] == \
        [struct.pack("<d", v) for v in vals]


def test_edit_distance_long_unrelated_pair_is_banded(spark):
    """Two long, same-length, unrelated texts cost the band, not
    DuckDB's full O(n^2) matrix; short pairs still score exactly."""
    pytest.importorskip("duckdb")
    import random
    import time

    from dask_ms_spark.llm import dedup

    rnd = random.Random(7)
    n = 50_000
    long_a = "".join(rnd.choice("abcdefghij ") for _ in range(n))
    long_b = "".join(rnd.choice("abcdefghij ") for _ in range(n))
    short = [("kitten", "sitting"), ("flaw", "lawn"),
             ("the quick brown fox", "the quick brown cat"),
             ("abcdef", "azcdefg"), ("", "abc"),
             ("abcdefghij" * 10, ("abcdefghij" * 10).replace("e", "E", 3))]
    rows = [(1, 2, long_a, long_b, 120)]
    rows += [(10 + i, 20 + i, a, b, 10) for i, (a, b) in enumerate(short)]
    pairs = spark.createDataFrame(
        rows, "id_a long, id_b long, ta string, tb string, __k int") \
        .withColumn("__L", F.greatest(F.length("ta"), F.length("tb"),
                                      F.lit(1)))
    out = dedup._edits_arrow_kernel(pairs)
    out.collect()                      # warm the workers
    t0 = time.perf_counter()
    got = {r["id_a"]: r["__edits"] for r in out.collect()}
    assert time.perf_counter() - t0 < 4.0
    # over the band: the banded form reports -1, which the caller's
    # edits >= 0 filter drops, as it drops the exact distance > k
    assert got[1] == -1
    for i, (a, b) in enumerate(short):
        assert got[10 + i] == _levenshtein(a, b), (a, b)

"""Corpus-level analytics for training-data curation.

No reference analogue (the reference is a radio-astronomy I/O layer);
these are the corpus-wide statistics a 100 TB text pipeline runs
between ingest and training: vocabulary building, cross-document
boilerplate detection, composite quality gating, and PII scanning.

Every operator is a UDF-free DataFrame composition whose heavy stages
partial-merge map-side; shuffles carry (id, 8-byte hash) or
(token, count) pairs, never document payloads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import scoped_persist
from ..functions.text import portable_hash64, sql_string, tokens
from ..functions.vector import _bind_once
from ..session import ensure_parallelism

__all__ = ["vocab_topk", "phrase_boilerplate", "quality_filter",
           "QUALITY_REASONS", "pii_scan", "PII_PATTERNS",
           "lm_perplexity", "chunk_documents", "corpus_diff",
           "substring_dedup", "collocations_pmi", "char_entropy",
           "ngram_novelty", "dedup_paragraphs", "c4_line_filter",
           "ccnet_perplexity_buckets", "heaps_fit"]


def dedup_paragraphs(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", sep: str = "\n\n",
                     min_chars: int = 1) -> DataFrame:
    """CCNet-style paragraph-level deduplication: drop every
    paragraph that already occurred earlier in the corpus (first
    occurrence wins, ordered by (doc, position)), rebuild each
    document from its surviving paragraphs.

    The crawl-cleaning pass resemblance dedup does not cover: two
    pages sharing one boilerplate paragraph are NOT near-dups, yet
    the repeated paragraph must go exactly once into training data
    (Wenzek et al., CCNet, 2020 — public).  Normalisation for the
    duplicate test is the dedup-family ``normalize_text`` (original
    paragraph text is what survives).

    Scale shape: paragraphs explode once with their position; the
    first-occurrence choice is ONE window rank over the paragraph
    HASH (8-byte md5-derived keys shuffle, paragraph text rides only
    to the rebuild); the rebuild is one doc-keyed aggregation.
    Returns ``(id_col, text, n_paragraphs, n_kept)`` — ``text``
    rebuilt with ``sep``, empty docs (all paragraphs duplicated)
    keep an empty string.  ``min_chars`` skips sub-threshold
    paragraphs from the dedup test (kept verbatim: whitespace
    fragments should not collide corpus-wide).
    """
    from pyspark.sql import Window

    from ..functions.text import portable_hash64
    from .dedup import normalize_text

    import re as _re

    paras = (docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col),
                             _re.escape(sep), -1))
         .alias("pos", "para")))
    h = F.when(F.length(normalize_text(F.col("para"))) >= min_chars,
               portable_hash64(normalize_text(F.col("para"))))
    hashed = paras.withColumn("__h", h)
    # sub-threshold paragraphs have __h = NULL and are all kept —
    # but a window partitioned on __h would funnel EVERY null-hash
    # row corpus-wide into ONE partition/task (review r8).  Give
    # each of them a unique NEGATIVE partition key instead
    # (portable hashes are non-negative, so the keyspaces are
    # disjoint): the window stays fully parallel and their rank is
    # trivially 1.
    pkey = F.coalesce(
        F.col("__h"),
        -portable_hash64(F.concat_ws(":", F.col("id"),
                                     F.col("pos")), "para-null")
        - F.lit(1))
    w = Window.partitionBy(pkey).orderBy("id", "pos")
    kept = (hashed.withColumn(
        "__rn", F.when(F.col("__h").isNull(), F.lit(1))
                 .otherwise(F.row_number().over(w)))
        .withColumn("__keep", F.col("__rn") == 1))
    return (kept.groupBy(F.col("id").alias(id_col))
            .agg(F.count(F.lit(1)).alias("n_paragraphs"),
                 F.sum(F.col("__keep").cast("long")).alias("n_kept"),
                 F.concat_ws(sep, F.transform(
                     F.array_sort(F.collect_list(F.struct(
                         "pos", "__keep", "para"))),
                     lambda s: F.when(s["__keep"], s["para"])))
                 .alias("__joined"))
            .select(id_col,
                    F.col("__joined").alias("text"),
                    "n_paragraphs", "n_kept"))


def _word_grams(toks: Column, n: int) -> Column:
    """The space-joined word ``n``-grams of a token array, in order.

    The token array binds ONCE: ``element_at`` over the tokenize
    EXPRESSION inside the lambda would re-split the text per gram —
    O(len^2), >120 s at 64 KB docs where the bound form takes ~2 s."""
    def grams_of(tk):
        return F.transform(
            F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tk, i + j) for j in range(n)]))

    return _bind_once(grams_of, tk=toks)


def ngram_novelty(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3,
                  reference: DataFrame | None = None) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT word n-grams that appear in NO other document — high for
    original text, low for templated/duplicated/memorised content.
    The complement of the boilerplate signal: where
    :func:`phrase_boilerplate` surfaces the corpus's most-repeated
    phrases, this scores each document by how much of it is repeated
    anywhere.  With ``reference`` given, novelty is measured against
    that corpus instead (e.g. "how much of this batch is new vs the
    training set" — the dataset-curation freshness check).

    Scale shape: one explode produces distinct (doc, gram-hash) pairs
    (grams shuffle as 8-byte md5-derived hashes, never strings — the
    dedup-family discipline); gram document-frequency is one keyed
    aggregation; the join back is gram-hash-keyed; the final
    aggregation is doc-keyed.  No driver round trips, no collects.
    Returns ``(id_col, n_distinct, n_novel, novelty)``; documents
    with fewer than ``n`` tokens have no n-grams and report novelty
    NULL over 0 grams.
    """
    if n < 1:
        raise ValueError(f"ngram_novelty: n must be >= 1, got {n}")

    def doc_grams(frame: DataFrame) -> DataFrame:
        # gram STRINGS build inside the transform; the md5 hash runs
        # POST-explode so it stays in whole-stage codegen — hashing
        # inside the array lambda executes interpreted (the
        # phrase_boilerplate discipline; review r8)
        toks = tokens(F.lower(F.col(text_col)))
        grams = _word_grams(toks, n)
        return (frame.where(F.size(toks) >= n)
                .select(F.col(id_col).alias("id"),
                        F.explode(F.array_distinct(grams))
                        .alias("__gs"))
                .select("id", portable_hash64(F.col("__gs"))
                        .alias("g")))

    mine = doc_grams(docs)
    if reference is None:
        # a gram is novel when its document frequency is exactly 1
        # (it lives only in this document)
        df_ = mine.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
        novel = F.col("__df") == 1
        joined = mine.join(df_, "g")
    else:
        ref = doc_grams(reference).select("g").distinct() \
            .withColumn("__seen", F.lit(True))
        novel = F.col("__seen").isNull()
        joined = mine.join(ref, "g", "left")
    scored = (joined.groupBy(F.col("id").alias(id_col))
              .agg(F.count(F.lit(1)).alias("n_distinct"),
                   F.sum(novel.cast("long")).alias("n_novel")))
    base = docs.select(F.col(id_col))
    return (base.join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
                    F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
                    (F.col("n_novel") / F.col("n_distinct"))
                    .alias("novelty")))


def corpus_diff(old_docs: DataFrame, new_docs: DataFrame,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Content-level diff between two corpus versions: one row per doc
    id in either version with status ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` — the audit table a dataset-versioning
    workflow publishes alongside each release.

    Scale shape: both sides project to (id, 8-byte digest) before the
    full-outer join, so the exchange carries 16 bytes/row regardless
    of document size; the join key is the id, so a corpus stored
    bucketed by id diffs with no shuffle at all.
    """
    from .dedup import normalize_text

    # presence is tracked by explicit markers, NOT hash nullness: a
    # NULL text hashes to NULL, and inferring absence from the hash
    # reported a doc present in both versions as "added" (review r8)
    digest = portable_hash64(normalize_text(F.col(text_col)))
    o = ensure_parallelism(old_docs).select(
        F.col(id_col).alias("id"), digest.alias("old_hash"),
        F.lit(True).alias("__in_old"))
    n = ensure_parallelism(new_docs).select(
        F.col(id_col).alias("id"), digest.alias("new_hash"),
        F.lit(True).alias("__in_new"))
    j = o.join(n, "id", "full_outer")
    status = (F.when(F.col("__in_old").isNull(), F.lit("added"))
               .when(F.col("__in_new").isNull(), F.lit("removed"))
               .when(F.col("old_hash").eqNullSafe(F.col("new_hash")),
                     F.lit("unchanged"))
               .otherwise(F.lit("changed")))
    return j.select(F.col("id").alias(id_col),
                    status.alias("status"), "old_hash", "new_hash")


def chunk_documents(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_chars: int = 120,
                    stride: int = 90) -> DataFrame:
    """Split documents into overlapping fixed-width character windows.

    The pre-tokenisation chunking step of a training pipeline: every
    document becomes ``ceil(len/stride)`` rows of at most
    ``chunk_chars`` characters, consecutive chunks overlapping by
    ``chunk_chars - stride``.  Empty documents still yield one
    (empty) chunk so no document silently disappears.

    Scale shape: pure map-side — the chunk strings are built
    pre-explode from a once-bound codepoint array (O(chunk) slice+
    join per chunk; the previous post-explode ``substr(off, w)``
    walked O(off) bytes per chunk, O(len^2/stride) per document —
    r10 audit, same class as char_ngrams) and ``posexplode`` fans
    them out; output volume is input volume × ``chunk_chars/stride``,
    with zero shuffles, so it composes into the scan.  (Chunking by
    *tokens* is the same plan with the offset grid over a token
    array from ``tokens()``.)
    """
    if stride <= 0 or chunk_chars <= 0:
        raise ValueError("chunk_chars and stride must be positive")
    if stride > chunk_chars:
        raise ValueError(
            f"stride ({stride}) > chunk_chars ({chunk_chars}) would "
            "silently DROP the characters between consecutive chunks "
            "— use stride <= chunk_chars (equal for non-overlapping "
            "coverage)")
    txt = F.col(text_col)

    def chunk_arr(t, chars):
        starts = F.sequence(F.lit(1),
                            F.greatest(F.size(chars), F.lit(1)),
                            F.lit(stride))
        return F.transform(
            starts,
            lambda p: F.array_join(F.slice(chars, p, chunk_chars),
                                   ""))

    arr = _bind_once(chunk_arr, t=txt, chars=F.split(txt, ""))
    return (docs.select(F.col(id_col),
                        F.posexplode(arr).alias("chunk_idx", "chunk"))
                .select(F.col(id_col), "chunk_idx",
                        (F.col("chunk_idx") * stride + 1)
                        .cast("int").alias("off"),
                        F.col("chunk"))
                .withColumn("chunk_len", F.length("chunk")))


def vocab_topk(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", k: int = 50) -> DataFrame:
    """Corpus vocabulary: the ``k`` most frequent tokens with
    occurrence and document frequencies.

    Plan shape: explode tokens -> (token, doc) partial-count (map-side
    combine collapses each document's repeats before the shuffle) ->
    (token) merge -> global top-k.  The first shuffle carries
    (token, doc_id, count); the second only |vocab| rows — at 100 TB
    the vocabulary, not the corpus, bounds the reduce side.  Ordering
    ties break on the token string so the result is deterministic.
    """
    toks = tokens(F.lower(F.col(text_col)))
    base = (ensure_parallelism(docs)
            .select(F.col(id_col).alias("id"),
                    F.explode(toks).alias("token")))
    per_doc = (base.groupBy("token", "id")
               .agg(F.count(F.lit(1)).alias("cnt")))
    total = (per_doc.groupBy("token")
             .agg(F.sum("cnt").cast("long").alias("n_occurrences"),
                  F.count(F.lit(1)).cast("long").alias("n_docs")))
    return (total.orderBy(F.col("n_occurrences").desc(), F.col("token"))
            .limit(k))


def phrase_boilerplate(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 5) -> DataFrame:
    """Cross-document duplicated-phrase ratio (boilerplate signal).

    A phrase is a word ``n``-gram; a phrase is *shared* when it occurs
    in more than one document.  Documents dominated by shared phrases
    are templates/boilerplate — the CCNet-style drop signal that
    within-document repetition (``bigram_repetition``) cannot see.

    Plan shape: explode n-grams, hash POST-explode (the measured
    codegen discipline — hashing inside the array ``transform`` runs
    interpreted), distinct (doc, gram-hash), then the per-gram
    document count rides a ``count() OVER (PARTITION BY gh)`` window
    on the SAME distinct pair set (r12 — the groupBy-gh + join-back
    spelling re-deduplicated the pair set for the aggregate leg and
    broadcast the whole pair table to attach the counts; at corpus
    scale that broadcast does not fit and the join becomes a second
    gh-keyed shuffle, which is exactly the one exchange the window
    already pays).  A hot gram keys one window partition either way —
    same skew surface as the join's gh shuffle, one fewer pass.
    Payload never shuffles: every exchanged row is (8-byte hash, id)
    or smaller.
    """
    from pyspark.sql import Window
    toks = tokens(F.lower(F.col(text_col)))
    nt = F.size(toks)
    grams = _word_grams(toks, n)
    pairs = (ensure_parallelism(docs.where(nt >= n))
             .select(F.col(id_col).alias("id"),
                     F.explode(grams).alias("gram"))
             .select("id", portable_hash64(F.col("gram")).alias("gh"))
             .distinct())
    counted = pairs.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("gh")))
    return (counted
            .groupBy(F.col("id").alias(id_col))
            .agg(F.count(F.lit(1)).cast("long").alias("n_phrases"),
                 F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
                  .cast("long").alias("n_shared"))
            .select(id_col, "n_phrases", "n_shared",
                    F.round(F.col("n_shared") / F.col("n_phrases"), 6)
                     .alias("boilerplate_ratio")))


# reason bits for quality_filter verdicts
QUALITY_REASONS = {
    "too_short": 1,        # < min_words
    "too_long": 2,         # > max_words
    "low_diversity": 4,    # distinct/total below threshold
    "repeated_word": 8,    # one word dominates
    "stopword_anomaly": 16,  # no stopwords at all, or far too many
}


# Per-row quality features as ONE expression over the sorted token
# array: a single fold counts words and stopwords, distinct words, and
# the longest run of one word (= the top word count, equal words being
# adjacent once sorted).  ``{toks}`` appears once, so the token array
# is computed once per row; NULL text folds the empty array.
_QUALITY_FEATURES_SQL = """aggregate(
    array_sort(coalesce({toks}, array())),
    named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'n_words', 0L,
                 'n_distinct', 0L, 'max_cnt', 0L, 'stop_cnt', 0L),
    (acc, w) -> named_struct(
        'prev', w,
        'run', IF(w = acc.prev, acc.run + 1, 1L),
        'n_words', acc.n_words + 1,
        'n_distinct', acc.n_distinct + IF(w = acc.prev, 0L, 1L),
        'max_cnt', greatest(acc.max_cnt,
                            IF(w = acc.prev, acc.run + 1, 1L)),
        'stop_cnt', acc.stop_cnt + IF({is_stop}, 1L, 0L)))"""


def quality_filter(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   min_words: int = 20, max_words: int = 5000,
                   min_distinct_ratio: float = 0.40,
                   max_word_frac: float = 0.12,
                   max_stop_frac: float = 0.10,
                   stopwords: tuple = ("the", "a")) -> DataFrame:
    """Gopher-style composite quality gate: one verdict row per input
    row with a ``reasons`` bitmask (:data:`QUALITY_REASONS`) and
    ``keep = (reasons == 0)``.

    The feature set (length bounds, lexical diversity, single-word
    dominance, stopword-rate anomaly) is the standard pre-training
    drop battery; thresholds are corpus-tunable parameters.  Features
    come from each row's own lower-cased whitespace tokens, so rows
    sharing a ``doc_id`` get one verdict each; empty, whitespace-only
    and NULL text has no tokens and is ``too_short`` with NULL ratios.
    Plan shape: one projection of one scan (the feature struct is one
    fold over the sorted token array) — no explode, no shuffle, no
    join, no Python.
    """
    is_stop = (f"w IN ({', '.join(sql_string(w) for w in stopwords)})"
               if stopwords else "false")
    toks = tokens(F.lower(F.col(text_col)))
    fold = _QUALITY_FEATURES_SQL.format(toks="__toks", is_stop=is_stop)
    nw = "CAST(__f.n_words AS DOUBLE)"
    # ratio tests run on rows with words only (AND short-circuits, so
    # there is no division by a zero word count)
    has = "__f.n_words > 0 AND "
    flags = {
        "too_short": f"__f.n_words < {min_words}",
        "too_long": f"__f.n_words > {max_words}",
        "low_diversity":
            f"{has}__f.n_distinct / {nw} < {float(min_distinct_ratio)}D",
        "repeated_word":
            f"{has}__f.max_cnt / {nw} > {float(max_word_frac)}D",
        "stopword_anomaly": f"{has}(__f.stop_cnt = 0 OR "
                            f"__f.stop_cnt / {nw} > {float(max_stop_frac)}D)",
    }
    reasons = " + ".join(f"IF({cond}, {QUALITY_REASONS[name]}, 0)"
                         for name, cond in flags.items())

    def ratio(num):
        return f"IF(__f.n_words > 0, round(__f.{num} / {nw}, 6), NULL)"

    return (ensure_parallelism(docs)
            .select(F.col(id_col), toks.alias("__toks"))
            .select(id_col, F.expr(fold).alias("__f"))
            .selectExpr(f"`{id_col}`", "__f.n_words AS n_words",
                        f"{ratio('n_distinct')} AS distinct_ratio",
                        f"{ratio('max_cnt')} AS max_word_frac",
                        f"{ratio('stop_cnt')} AS stop_frac",
                        f"CAST({reasons} AS INT) AS reasons",
                        f"{reasons} = 0 AS keep"))


# Conservative RE2-compatible patterns (no backreferences/lookarounds)
# so the same regex runs in Spark (Java), DuckDB (RE2), and RE2-based
# scrubbers.  Deliberately high-precision forms; corpus-specific
# recall tuning belongs to the caller.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": (r"(?:\+?[0-9]{1,3}[-. ])?"
              r"\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}"),
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}


def pii_scan(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id",
             redact: bool = True) -> DataFrame:
    """Per-document PII hit counts and (optionally) redacted text.

    Pure map-side regexp work in whole-stage codegen — zero shuffles,
    so it composes into any scan at 100 TB for free.  Counts use
    ``regexp_count`` per pattern; redaction replaces each match with
    ``[TYPE]``, applied in a fixed pattern order so output is
    deterministic.

    Semantics note: counts are per-pattern over the ORIGINAL text,
    while redaction is sequential — when two patterns overlap (a
    phone number inside an email local-part), the earlier pattern's
    marker consumes the span, so ``n_phone`` can exceed the
    ``[PHONE]`` markers present in ``redacted``.  Counts answer "how
    much PII of each kind", redaction answers "is the text clean";
    do not reconcile one against the other.
    """
    cols = [F.col(id_col)]
    for name, pat in PII_PATTERNS.items():
        cols.append(F.regexp_count(F.col(text_col), F.lit(pat))
                    .cast("long").alias(f"n_{name}"))
    if redact:
        red = F.col(text_col)
        for name, pat in PII_PATTERNS.items():
            red = F.regexp_replace(red, pat, f"[{name.upper()}]")
        cols.append(red.alias("redacted"))
    return df.select(*cols)


def lm_perplexity(docs: DataFrame, lm_docs: DataFrame | None = None,
                  text_col: str = "text", id_col: str = "doc_id",
                  scale: int = 1 << 20,
                  smoothing: str = "add_one",
                  discount: float = 0.75) -> DataFrame:
    """Per-document perplexity proxy under a smoothed bigram language
    model built from ``lm_docs`` (default: the corpus itself) — the
    CCNet-style quality signal, with the n-gram LM replacing an
    external model: fluent text scores low, gibberish high.

    ``smoothing="add_one"`` (default):

        P(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V)

    ``smoothing="kneser_ney"`` — interpolated Kneser-Ney (Kneser &
    Ney 1995 / Chen & Goodman 1998, public; the smoothing family
    KenLM implements, i.e. what CCNet's reference pipeline actually
    scores with):

        P(w2 | w1) = max(c(w1 w2) - d, 0) / c(w1)
                     + d * N1+(w1,*) / c(w1) * Pcont(w2)
        Pcont(w2)  = N1+(*,w2) / N1+(*,*)

    with ``d = discount`` and N1+ the distinct-continuation counts —
    the "how many contexts" statistic that makes KN rank grammatical
    novelty correctly where raw counts overweight burstiness.  Unseen
    (w1, w2) under a seen w1 falls into the continuation term; a
    wholly unseen w1 backs off to ``Pcont(w2)``, flooring at
    ``d / V`` so the score stays finite.

    In both modes every stage is a DataFrame composition:
    bigram/unigram/continuation counts are partial-merged aggregates;
    scoring joins the doc's bigram instances against the LM table
    keyed on the gram itself (exact, no hash collisions in the
    statistics); the continuation join adds one vocabulary-sized
    w2-keyed join in KN mode.  Per-term log-likelihoods are quantised
    to ``scale`` fixed-point before the per-doc sum, so scores are
    shuffle-order deterministic and engine-mirrorable.  Returns
    ``(id_col, n_bigrams, avg_neg_logp)`` for documents with at
    least one bigram.
    """
    if smoothing not in ("add_one", "kneser_ney"):
        raise ValueError(f"lm_perplexity: unknown smoothing "
                         f"{smoothing!r} (add_one | kneser_ney)")
    self_scored = lm_docs is None
    lm_docs = docs if self_scored else lm_docs

    def bigram_instances(frame: DataFrame) -> DataFrame:
        toks = tokens(F.lower(F.col(text_col)))
        n = F.size(toks)

        # bind the token array ONCE (r11 audit: element_at over the
        # tokenize EXPRESSION inside the lambda re-split the text per
        # bigram — O(len^2) per doc, hidden at narrow widths by
        # ensure_parallelism spreading docs over cores; 46 s -> 1.4 s
        # single-threaded at 20x64 KB docs)
        def grams_of(tk):
            return F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.struct(
                    F.element_at(tk, i).alias("w1"),
                    F.element_at(tk, i + 1).alias("w2")))

        grams = _bind_once(grams_of, tk=toks)
        return (ensure_parallelism(frame.where(n >= 2))
                .select(F.col(id_col).alias("id"),
                        F.explode(grams).alias("g"))
                .select("id", F.col("g.w1").alias("w1"),
                        F.col("g.w2").alias("w2")))

    lm_grams = bigram_instances(lm_docs)
    if self_scored:
        # self-scoring reuses one materialised explode for LM counts,
        # vocabulary, and the scored instances — without this the
        # shingle pipeline runs three times.  persist (columnar
        # InMemoryRelation) measured several times faster than
        # localCheckpoint here; the cache entry is per logical plan
        # and NOT GC-released, so it registers with the scoped cache
        # lifecycle — looping drivers wrap batches in
        # dask_ms_spark.cache.cache_scope() or call release_caches()
        # between them (the dedup module's cache discipline)
        lm_grams = scoped_persist(lm_grams)
    uni = (lm_grams.groupBy("w1")
           .agg(F.count(F.lit(1)).alias("c1")))
    bi = (lm_grams.groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).alias("c2")))
    vocab_words = (lm_grams.select(F.col("w1").alias("w"))
                   .unionByName(lm_grams.select(F.col("w2").alias("w"))))
    inst = lm_grams if self_scored else bigram_instances(docs)
    if smoothing == "kneser_ney":
        vocab = vocab_words.distinct().count()
        d = float(discount)
        # distinct-continuation statistics from the bigram TYPE table
        n1_fwd = (bi.groupBy("w1")
                  .agg(F.count(F.lit(1)).alias("nf")))   # N1+(w1,*)
        n1_bwd = (bi.groupBy("w2")
                  .agg(F.count(F.lit(1)).alias("nb")))   # N1+(*,w2)
        n_types = bi.count()                             # N1+(*,*)
        lm = (bi.join(uni, "w1").join(n1_fwd, "w1")
              .select("w1", "w2", "c2", "c1", "nf"))
        if self_scored:
            # every scored instance is in the LM by construction —
            # inner joins, no backoff legs (4 fewer exchanges)
            scored = inst.join(lm, ["w1", "w2"]).join(n1_bwd, "w2")
            pcont = F.col("nb") / F.lit(float(n_types))
            p = (F.greatest(F.col("c2") - F.lit(d), F.lit(0.0))
                 / F.col("c1")
                 + F.lit(d) * F.col("nf") / F.col("c1") * pcont)
        else:
            scored = (inst.join(lm, ["w1", "w2"], "left")
                      .join(uni.select(F.col("w1"),
                                       F.col("c1").alias("__c1u")),
                            "w1", "left")
                      .join(n1_fwd.select(F.col("w1"),
                                          F.col("nf").alias("__nfu")),
                            "w1", "left")
                      .join(n1_bwd, "w2", "left"))
            pcont = (F.coalesce(F.col("nb"), F.lit(0.0))
                     / F.lit(float(n_types)))
            seen_w1 = F.col("__c1u").isNotNull()
            p_seen = (F.greatest(F.col("c2") - F.lit(d), F.lit(0.0))
                      / F.col("__c1u")
                      + F.lit(d) * F.col("__nfu") / F.col("__c1u")
                      * pcont)
            # unseen (w1,w2) under seen w1: c2 -> 0, continuation
            # term only; wholly unseen w1 backs off to Pcont; floor
            # keeps the log finite for unseen w2
            p_backoff = (F.lit(d) * F.col("__nfu") / F.col("__c1u")
                         * pcont)
            p = F.when(F.col("c2").isNotNull(), p_seen) \
                .when(seen_w1, p_backoff).otherwise(pcont)
            # p = 0 only through Pcont(unseen w2) = 0 — floor THAT
            # case alone (d/V), never a legitimately small
            # probability
            p = F.when(p > 0, p).otherwise(F.lit(d / max(vocab, 1)))
        scored = scored.select("id", p.alias("p"))
    else:
        # (r12 optimization round: a broadcast 1-row V was A/B-tested
        # against this eager count and measured ~20% SLOWER — the
        # count doubles as the persist materialisation job and keeps
        # the scoring plan smaller; keeping the literal.)
        vocab = vocab_words.distinct().count()
        lm = (bi.join(uni, "w1")
              .select("w1", "w2",
                      ((F.col("c2") + 1)
                       / (F.col("c1") + F.lit(vocab))).alias("p")))
        if self_scored:
            # every scored instance is in the LM by construction —
            # inner join, no unigram backoff leg
            scored = inst.join(lm, ["w1", "w2"]).select("id", "p")
        else:
            # smoothing floor for bigrams unseen by the LM (left
            # join): P = 1 / (c(w1) + V), or 1 / V when even w1 is
            # unseen
            scored = (inst.join(lm, ["w1", "w2"], "left")
                      .join(uni, "w1", "left")
                      .select("id", F.coalesce(
                          F.col("p"),
                          F.lit(1.0) / (F.coalesce(F.col("c1"),
                                                   F.lit(0))
                                        + F.lit(vocab))).alias("p")))
    q = F.round(-F.log(F.col("p")) * F.lit(float(scale))).cast("long")
    return (scored.select("id", q.alias("q"))
            .groupBy(F.col("id").alias(id_col))
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 F.sum("q").alias("qsum"))
            .select(id_col, "n_bigrams",
                    F.round(F.col("qsum")
                            / F.col("n_bigrams") / F.lit(float(scale)),
                            6).alias("avg_neg_logp")))


def substring_dedup(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", window: int = 40,
                    stride: int = 10) -> DataFrame:
    """Character-window (substring-level) duplication profile — the
    distributed approximation of exact-substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", 2022:
    suffix-array ExactSubstr).  A full distributed suffix array is a
    poor fit for Spark; the approximation is fixed-width character
    windows, independent of tokenisation (which is what word-n-gram
    boilerplate detection cannot promise).

    Detection contract — be precise about what the stride buys:
    with ``stride=1`` every position is sampled, so ANY cross-document
    verbatim run of >= ``window`` chars is guaranteed a shared window
    (cost: ~len windows per doc).  With ``stride > 1`` both documents
    sample start positions on their own stride grid, so a shared run
    is detected only when its offsets in the two documents agree
    modulo ``stride`` — which holds for whole-document copies,
    prefix-anchored templates, and block-aligned boilerplate, but an
    arbitrarily shifted run can be missed (probability ~1/stride per
    run).  For position-robust *sampled* detection use winnowed
    fingerprints (``functions/text.py`` winnowing), whose min-in-window
    anchor is content-defined and alignment-free.

    Returns per doc: ``n_windows``, ``n_dup_windows`` (windows whose
    hash occurs in >= 2 distinct docs), ``dup_ratio``.

    Plan shape: window STRINGS are built pre-explode from a
    once-bound codepoint array (O(window) ``slice``+``array_join``
    per window — the r10 audit found the previous post-explode
    ``substr(pos, window)`` walks O(pos) bytes per call, O(len^2)
    per document: 40 s -> 1.2 s at 128 KB docs, value-identical),
    then md5 runs POST-explode in whole-stage codegen — the
    explode-then-hash discipline kept from the original spelling;
    distinct (id, hash); per-hash doc counts; join back.  Shuffles
    carry (id, 8-byte hash) only — never text.  Docs shorter than
    ``window`` contribute one whole-text window.
    """
    t = F.col(text_col)

    def wins(t, chars):
        n = F.size(chars)
        starts = F.when(n <= window, F.array(F.lit(1))).otherwise(
            F.sequence(F.lit(1), n - F.lit(window) + 1,
                       F.lit(stride)))
        return F.transform(
            starts,
            lambda p: F.array_join(F.slice(chars, p, window), ""))

    windows = _bind_once(wins, t=t, chars=F.split(t, ""))
    hashed = (ensure_parallelism(docs)
              .select(F.col(id_col).alias("id"),
                      F.explode(windows).alias("wtxt"))
              .select("id", portable_hash64(F.col("wtxt"))
                      .alias("wh"))
              .distinct())
    per_hash = hashed.groupBy("wh").agg(F.count(F.lit(1)).alias("nd"))
    dup = (F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
           .cast("long"))
    return (hashed.join(per_hash, "wh")
            .groupBy(F.col("id").alias(id_col))
            .agg(F.count(F.lit(1)).cast("long").alias("n_windows"),
                 dup.alias("n_dup_windows"),
                 F.round(dup / F.count(F.lit(1)), 6).alias("dup_ratio")))


def collocations_pmi(docs: DataFrame, text_col: str = "text",
                     min_count: int = 5, topk: int = 50) -> DataFrame:
    """Top collocations (adjacent word pairs) by pointwise mutual
    information — the classic corpus-linguistics signal for fixed
    phrases ("los angeles") vs chance co-occurrence, and a practical
    detector of templated text when PMI is implausibly high corpus-wide.

    PMI = ln( (c_xy / M) / ((c_x / N) * (c_y / N)) ) with N total
    tokens, M total bigrams; the expression is evaluated with this
    exact association order so any SQL mirror agrees bit-for-bit (the
    bm25_search precedent for cross-engine ``ln`` parity).

    Plan shape: ONE persisted gram explode feeds the bigram counts,
    the unigram counts AND the totals (partial-merged aggs); the
    unigram table is vocabulary-bounded and **broadcast** to the
    bigram side, so the only corpus-sized shuffle is the (w1, w2)
    count.  The ``min_count`` filter applies before the joins,
    bounding the scored set.
    """
    # ONE tokenize + ONE persisted explode feeds every consumer
    # (r12 optimization round; plan-verified before: the unigram
    # subtree evaluated 3x — n_total + both broadcast marginals —
    # and the bigram explode 2x, i.e. FIVE tokenizations of the text
    # column per query).  Each gram row carries (w1 = token_i,
    # w2 = token_{i+1} or NULL at the last position — element_at out
    # of bounds IS null), so unigram marginals are exact token
    # frequencies (count every row) and bigram counts are the
    # w2-non-null rows; the totals collapse to one count/sum over
    # the same frame.  Values are identical to the two-explode
    # spelling by construction (oracle MATCH re-verified).
    toks = tokens(F.lower(F.col(text_col)))

    def grams_of(tk):
        # try_element_at: the last position's w2 is a NULL (ANSI mode
        # raises on plain element_at out of bounds)
        return F.transform(
            F.sequence(F.lit(1), F.size(tk)),
            lambda i: F.struct(
                F.element_at(tk, i).alias("w1"),
                F.try_element_at(tk, i + 1).alias("w2")))

    g = scoped_persist(
        ensure_parallelism(docs)
        .select(_bind_once(grams_of, tk=toks).alias("gs"))
        .where(F.size("gs") >= 2)
        .select(F.explode("gs").alias("bg"))
        .select("bg.w1", "bg.w2"))
    bi = (g.where(F.col("w2").isNotNull())
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy")))
    # unigram marginals are token frequencies (not bigram-position
    # counts, which would double-count every interior token);
    # persisted because the scored join reads it twice (w1 + w2)
    uni = scoped_persist(
        g.groupBy(F.col("w1").alias("w"))
         .agg(F.count(F.lit(1)).alias("c")))
    totals = F.broadcast(
        g.agg(F.sum(F.col("w2").isNotNull().cast("long"))
              .cast("double").alias("m_total"),
              F.count(F.lit(1)).cast("double").alias("n_total")))
    pmi = F.round(F.log(
        (F.col("c_xy").cast("double") / F.col("m_total"))
        / ((F.col("c1").cast("double") / F.col("n_total"))
           * (F.col("c2").cast("double") / F.col("n_total")))), 6)
    scored = (bi.where(F.col("c_xy") >= min_count)
              .join(F.broadcast(uni.select(F.col("w").alias("w1"),
                                           F.col("c").alias("c1"))), "w1")
              .join(F.broadcast(uni.select(F.col("w").alias("w2"),
                                           F.col("c").alias("c2"))), "w2")
              .crossJoin(totals)
              .select("w1", "w2", F.col("c_xy").cast("long").alias("c_xy"),
                      pmi.alias("pmi")))
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(topk)


def char_entropy(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 scale: int = 1 << 20) -> DataFrame:
    """Per-document character-distribution signals: Shannon entropy
    (bits) and Simpson diversity (1 - sum p^2) over the lower-cased
    character histogram.  Low entropy flags degenerate text (repeated
    filler, padding); it complements the word-level quality gates.

    Entropy terms ``-p*log2(p)`` are quantised to int64 at 2^-20
    before the per-doc sum (the lm_perplexity discipline) so the sum
    is shuffle-order-independent and engine-exact; Simpson terms are
    quantised the same way.

    Plan shape: explode single characters post-normalisation, one
    (id, char) partial-merged count, one (id) merge.  Shuffles carry
    (id, 1-char, count) then (id, int64) — bounded by alphabet size
    per doc, not text size.
    """
    tc = F.col("t")
    # split('') is the O(len) codepoint array; the previous
    # transform-over-positions substr(i, 1) walked O(i) bytes per
    # char — O(len^2) per document (r10 HOF audit)
    chars = F.split(tc, "")
    counts = (ensure_parallelism(docs)
              .select(F.col(id_col).alias("id"),
                      F.lower(F.col(text_col)).alias("t"))
              .where(F.length("t") > 0)
              .select("id", F.explode(chars).alias("c"))
              .groupBy("id", "c").agg(F.count(F.lit(1)).alias("cnt")))
    tot = counts.groupBy("id").agg(F.sum("cnt").alias("n_chars"))
    p = F.col("cnt").cast("double") / F.col("n_chars").cast("double")
    ent_q = F.round(-p * F.log2(p) * F.lit(float(scale))).cast("long")
    simp_q = F.round(p * p * F.lit(float(scale))).cast("long")
    return (counts.join(tot, "id")
            .groupBy(F.col("id").alias(id_col))
            .agg(F.max("n_chars").cast("long").alias("n_chars"),
                 F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
                 F.round(F.sum(ent_q) / F.lit(float(scale)), 6)
                  .alias("entropy_bits"),
                 F.round(F.lit(1.0) - F.sum(simp_q) / F.lit(float(scale)), 6)
                  .alias("simpson_diversity")))


def c4_line_filter(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   min_line_words: int = 5, min_lines: int = 3,
                   banned: tuple = ("lorem ipsum", "javascript",
                                    "{")) -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020, sec. 2.2 —
    public): within each document keep only lines that (a) end in a
    terminal punctuation mark (. ! ? "), (b) carry at least
    ``min_line_words`` whitespace-delimited words, and (c) contain
    none of the ``banned`` substrings (case-insensitive; the paper's
    "lorem ipsum" / Javascript / curly-brace code heuristics); then
    keep only documents with at least ``min_lines`` surviving lines.
    Complements the doc-level Gopher gate (``quality_filter``): C4
    repairs salvageable pages by deleting boilerplate lines where
    Gopher votes whole documents up or down.

    Scale shape: lines explode once with their position; every line
    verdict is a map-side codegen expression (no vocabulary, no
    joins); the rebuild is ONE doc-keyed aggregation — the same
    single-exchange plan as ``dedup_paragraphs``.  Returns
    ``(id_col, text, n_lines, n_kept, keep)`` with ``text`` rebuilt
    from surviving lines in original order (empty string when
    nothing survives).
    """
    lines = (ensure_parallelism(docs)
             .select(F.col(id_col).alias("id"),
                     F.posexplode(F.split(F.col(text_col), "\n", -1))
                      .alias("pos", "line")))
    t = F.rtrim(F.col("line"))
    terminal = F.substring(t, -1, 1).isin(".", "!", "?", '"')
    n_words = F.size(F.regexp_extract_all(F.col("line"),
                                          F.lit(r"\S+"), F.lit(0)))
    low = F.lower(F.col("line"))
    clean = F.lit(True)
    for b in banned:
        clean = clean & ~low.contains(b.lower())
    kept = lines.withColumn(
        "__keep", terminal & (n_words >= min_line_words) & clean)
    out = (kept.groupBy(F.col("id").alias(id_col))
           .agg(F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("__keep").cast("long")).alias("n_kept"),
                F.concat_ws("\n", F.transform(
                    F.array_sort(F.collect_list(F.struct(
                        "pos", "__keep", "line"))),
                    lambda s: F.when(s["__keep"], s["line"])))
                .alias("__joined")))
    return out.select(
        id_col, F.col("__joined").alias("text"), "n_lines", "n_kept",
        (F.col("n_kept") >= min_lines).alias("keep"))


def ccnet_perplexity_buckets(docs: DataFrame,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             lang_col: str = "lang",
                             n_buckets: int = 3,
                             lm_docs: DataFrame | None = None
                             ) -> DataFrame:
    """CCNet's selection step (Wenzek et al. 2020, sec. 4.3 —
    public): score every document with the LM perplexity proxy, then
    split EACH LANGUAGE into equal-population quality buckets —
    head / middle / tail for the canonical ``n_buckets=3`` — by
    ranked perplexity (low = fluent = head).  Per-language ranking is
    the point: absolute perplexities aren't comparable across
    languages, percentile position within the language is.

    Scale shape: the LM pass is :func:`lm_perplexity` (one persisted
    bigram explode, partial-merged counts, one gram-keyed join); the
    bucketing adds ONE window rank per language over the already
    doc-sized score table.  Ties break on ``id_col`` so bucket
    membership is total-order deterministic and engine-exact.
    Documents without bigrams carry no score and are not bucketed
    (route them to the Gopher gate instead).  Returns
    ``(id_col, lang, n_bigrams, avg_neg_logp, bucket)`` with
    ``bucket`` in {'head', 'middle', 'tail'} (or 'b<i>' for other
    ``n_buckets``).
    """
    from pyspark.sql import Window

    scores = lm_perplexity(docs, lm_docs, text_col, id_col)
    labeled = (docs.select(F.col(id_col), F.col(lang_col).alias("lang"))
               .join(scores, id_col))
    w = (Window.partitionBy("lang")
         .orderBy(F.col("avg_neg_logp").asc(), F.col(id_col).asc()))
    idx = F.ntile(n_buckets).over(w)
    if n_buckets == 3:
        bucket = (F.when(idx == 1, "head")
                  .when(idx == 2, "middle").otherwise("tail"))
    else:
        bucket = F.concat(F.lit("b"), idx.cast("string"))
    return labeled.select(id_col, "lang", "n_bigrams",
                          "avg_neg_logp", bucket.alias("bucket"))


def heaps_fit(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", n_points: int = 40) -> DataFrame:
    """Heaps'-law diagnostic: fit ``V(n) = K * n^beta`` — vocabulary
    size as a function of tokens read (Heaps 1978; public) — the
    growth-curve companion to the Zipf rank-frequency fit.  Natural
    prose sits near beta ~ 0.7-0.8; templated or deduplicated text
    flattens (vocabulary saturates), heavy boilerplate inflates K.

    Spelling: every token instance gets a GLOBAL position (documents
    in ``id_col`` order, tokens in document order), each word keeps
    its FIRST position, and V(n) = #{words: first_pos <= n} is
    evaluated at ``n_points`` log-spaced checkpoints in one
    conditional-sum aggregate; the fit is one native
    regr_slope/regr_intercept over the (ln n, ln V) points (the
    zipf_fit discipline).

    Scale shape: the document-offset prefix sum is TWO-LEVEL (the
    ``attach_rowid`` trick, operators/ordering.py:86-119):
    range-partition the doc-count table on id, prefix-sum WITHIN each
    partition (hash-parallel window), and add the broadcast prefix of
    per-partition totals — the only ordered window left runs over the
    #partitions-sized totals table, so a billion documents never
    funnel through one task.  Instances shuffle once to keep per-word
    minima; the checkpoint aggregate and the fit run on bounded rows.
    Returns one row: (n_tokens, vocab_size, heaps_beta, heaps_k).
    """
    from pyspark.sql import Window

    toks = tokens(F.lower(F.col(text_col)))
    base = (ensure_parallelism(docs)
            .select(F.col(id_col).alias("id"), toks.alias("__t")))
    # counts feeds THREE consumers (the total-collect below, the
    # bucket totals, and the offset join): persist the tiny
    # (id, cnt) table so the corpus tokenizes once for all of them
    # instead of once per consumer
    counts = scoped_persist(
        base.select("id", F.size("__t").alias("cnt")))
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    parted = (counts.repartitionByRange(n_parts, F.col("id"))
              .sortWithinPartitions("id")
              .withColumn("__pid", F.spark_partition_id()))
    # bucket totals: #partitions rows, the ONLY ordered-window input
    btot = (parted.groupBy("__pid").agg(F.sum("cnt").alias("__s"))
            .withColumn("__boff",
                        (F.coalesce(
                            F.sum("__s").over(
                                Window.orderBy("__pid")
                                .rowsBetween(Window.unboundedPreceding,
                                             -1)),
                            F.lit(0))).cast("long"))
            .select("__pid", "__boff"))
    w_in = (Window.partitionBy("__pid").orderBy("id")
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = (parted.join(F.broadcast(btot), "__pid")
            .select("id",
                    (F.coalesce(F.sum("cnt").over(w_in), F.lit(0))
                     + F.col("__boff")).alias("off")))
    inst = (base.join(offs, "id")
            .select(F.posexplode("__t").alias("pos", "w"),
                    F.col("off"))
            .select("w", (F.col("off") + F.col("pos") + 1)
                    .alias("gpos")))
    first = inst.groupBy("w").agg(F.min("gpos").alias("fp"))

    total = counts.agg(F.sum("cnt")).collect()[0][0] or 0
    if total < 2:
        raise ValueError("heaps_fit: need at least 2 tokens")
    import math

    # half-up rounding (floor(x + 0.5)) so an SQL mirror's round()
    # lands on the same checkpoint integers
    gs = sorted({max(1, int(math.floor(math.exp(
        math.log(total) * g / n_points) + 0.5))) for g in
        range(1, n_points + 1)})
    agg = first.agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        *[F.sum((F.col("fp") <= F.lit(n)).cast("long")).alias(f"v{i}")
          for i, n in enumerate(gs)])
    pts = agg.select(
        "vocab",
        F.explode(F.array(*[
            F.struct(F.lit(float(n)).alias("n"),
                     F.col(f"v{i}").cast("double").alias("v"))
            for i, n in enumerate(gs)])).alias("p")) \
        .select("vocab", F.col("p.n").alias("n"),
                F.col("p.v").alias("v")) \
        .where(F.col("v") > 0)
    lx, ly = F.log(F.col("n")), F.log(F.col("v"))
    return pts.groupBy("vocab").agg(
        F.round(F.regr_slope(ly, lx), 6).alias("heaps_beta"),
        F.round(F.exp(F.regr_intercept(ly, lx)), 6).alias("heaps_k")) \
        .select(F.lit(int(total)).cast("long").alias("n_tokens"),
                F.col("vocab").alias("vocab_size"),
                "heaps_beta", "heaps_k")

"""Text analysis for large-scale corpus pipelines — UDF-free.

No reference analogue (dask-ms is a radio-astronomy I/O library); these
are the BASELINE.json north-star operators for LLM training-data work:
language ID, quality scoring, token counting, document fingerprinting.

Every function composes built-in ``pyspark.sql.functions`` so the hot
path is JVM-side and codegen'd — at 100 TB a per-row Python UDF here
would dominate the job.  Hashes are built on ``md5`` (bit-identical in
any engine) so results are portable across engines for oracle checking,
rather than engine-private hash functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .vector import _bind_once

__all__ = ["portable_hash64", "portable_hash64_sql", "sql_string",
           "tokens", "token_count", "char_ngrams",
           "learn_bpe_merges", "apply_bpe_merges",
           "word_shingles", "quality_features", "langid_scores", "langid",
           "fingerprint", "with_fingerprint", "STOPWORDS",
           "BPE_TOKEN_PATTERN", "bpe_tokens", "bpe_token_count",
           "stopword_ratio"]

_WS = r"\s+"
# the characters Java's ``\s`` matches: tokens() trims every one of
# them, so edge whitespace never splits off an empty token
_WS_CHARS = " \t\n\x0b\f\r"

# GPT-2-style pre-tokeniser shape, RE2-safe (no lookahead, ASCII
# classes) so the same pattern runs in Spark (Java regex) and DuckDB
# (RE2): contraction suffixes, space-prefixed word/number/punct runs,
# whitespace runs.
BPE_TOKEN_PATTERN = (r"'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
                     r"| ?[^A-Za-z0-9\s']+|\s+")


def bpe_tokens(text: Column) -> Column:
    """BPE-ish pre-tokenisation: regex token runs, the standard
    LLM-pipeline token estimator (whitespace counts undercount code
    and punctuation-heavy text).  Pure codegen via regexp_extract_all."""
    return F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0)


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords — the classic
    gibberish/boilerplate quality signal (natural prose ~0.3-0.5,
    keyword spam ~0)."""
    toks = tokens(F.lower(text))
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return n_stop.cast("double") / \
        F.greatest(F.size(toks), F.lit(1)).cast("double")


# The hash's one spelling: md5 of ``x || salt``, its first 15 hex
# digits read as base 16, as a bigint.  ``portable_hash64`` renders it
# as a Column, ``portable_hash64_sql`` as SQL text for callers that
# build a whole expression with one ``F.expr``.
_HASH64_STEPS = (("md5",), ("substring", 1, 15), ("conv", 16, 10))


def portable_hash64(col: Column, salt: str | Column = "") -> Column:
    """Deterministic 60-bit hash from md5 — identical in Spark, DuckDB,
    Python.  ``conv(substr(md5(x || salt),1,15),16,10)`` as bigint.

    Engine-private hashes (xxhash64, DuckDB's ``hash()``) disagree
    across engines; md5 is the lingua franca, and 15 hex digits fit in
    a signed 64-bit int.
    """
    salt_col = F.lit(salt) if isinstance(salt, str) else salt
    out = F.concat(col.cast("string"), salt_col)
    for name, *args in _HASH64_STEPS:
        out = getattr(F, name)(out, *args)
    return out.cast("bigint")


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def portable_hash64_sql(x: str, salt: str = "") -> str:
    """:func:`portable_hash64` as SQL text over the SQL operand ``x``
    with a literal ``salt``; value- and type-identical to the Column
    form."""
    out = f"concat(CAST({x} AS STRING), {sql_string(salt)})"
    for name, *args in _HASH64_STEPS:
        out = f"{name}({', '.join([out, *map(str, args)])})"
    return f"CAST({out} AS BIGINT)"


def tokens(text: Column) -> Column:
    """Whitespace tokenisation of trimmed text; empty or
    whitespace-only string -> []."""
    t = F.trim(text, F.lit(_WS_CHARS))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(t, _WS))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams (shingles) of ``text``.

    The text splits into a codepoint array ONCE and each window is an
    O(n) ``slice`` + ``array_join`` — O(len * n) per document.  The
    previous ``substr(text, i, n)``-per-window spelling was O(len^2):
    UTF8String.substring walks bytes from offset 0 to find the i-th
    codepoint (UTF-8 is variable-width), so shingling a 128 KB
    document cost ~81 s vs ~3 s here (round-10 HOF audit; same
    quadratic symptom as the r9 lambda re-expansion class, different
    mechanism).  ``split('')`` is codepoint-correct (surrogate pairs
    stay whole), so shingle VALUES are identical to the substr
    spelling.  Both the raw text and the char array bind once per
    row (review r9 / r10): expression-typed inputs or the derived
    split would otherwise re-evaluate per SHINGLE.
    """
    def run(t, chars):
        count = F.size(chars) - F.lit(n - 1)
        grams = F.when(count <= 0, F.array(t)).otherwise(
            F.transform(F.sequence(F.lit(1), count),
                        lambda i: F.array_join(F.slice(chars, i, n),
                                               "")))
        return F.array_distinct(grams)

    return _bind_once(run, t=text, chars=F.split(text, ""))


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles joined by single spaces (tokenisation
    binds once — the per-window element_at would otherwise re-split
    the text per shingle)."""
    def run(toks):
        count = F.size(toks) - F.lit(k - 1)
        shingle = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(toks, i + j) for j in range(k)])
        return F.array_distinct(
            F.when(count <= 0, F.array(F.concat_ws(" ", toks)))
             .otherwise(F.transform(F.sequence(F.lit(1), count),
                                    shingle)))

    return _bind_once(run, toks=tokens(F.lower(text)))


# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic.  Word-boundary regex counts are portable SQL.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "with"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "pour"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "es": ("el", "los", "las", "una", "es", "que", "por", "para"),
}


def langid_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword hit counts (heuristic language ID)."""
    low = F.lower(text)
    return {
        lang: sum((F.regexp_count(low, F.lit(rf"\b{w}\b")) for w in words),
                  F.lit(0))
        for lang, words in STOPWORDS.items()
    }


def langid(text: Column, default: str = "en") -> Column:
    """Argmax language over stopword scores; ties break by language
    order en > fr > de > es; all-zero -> ``default``."""
    scores = langid_scores(text)
    langs = list(scores)
    best = None
    for i, lang in enumerate(langs):
        cond = scores[lang] > 0
        for prev in langs[:i]:
            cond = cond & (scores[lang] > scores[prev])
        for nxt in langs[i + 1:]:
            cond = cond & (scores[lang] >= scores[nxt])
        best = F.when(cond, F.lit(lang)) if best is None \
            else best.when(cond, F.lit(lang))
    return best.otherwise(F.lit(default))


def quality_features(text: Column) -> dict[str, Column]:
    """Cheap quality-score features (length, punctuation/digit/upper
    ratios, mean word length) — the standard corpus-filtering set."""
    n = F.length(text).cast("double")
    nz = F.when(n > 0, n).otherwise(F.lit(1.0))
    toks = tokens(text)
    ntok = F.size(toks).cast("double")
    return {
        "n_chars": n,
        "n_tokens": ntok,
        "punct_ratio": F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\-]", "")) / nz,
        "digit_ratio": F.length(F.regexp_replace(text, r"[^0-9]", "")) / nz,
        "upper_ratio": F.length(F.regexp_replace(text, r"[^A-Z]", "")) / nz,
        # mean over the TOKENS' own lengths: the former
        # (n_chars - (ntok-1))/ntok closed form assumed exactly one
        # separator space, overstating word length on padded or
        # multi-space text (review r8: '  hi  ' scored 6.0, true 2.0)
        "mean_word_len": F.when(
            ntok > 0,
            F.aggregate(toks, F.lit(0.0),
                        lambda a, t: a + F.length(t)) / ntok
        ).otherwise(F.lit(0.0)),
    }


def fingerprint(text: Column, k: int = 8, window: int = 4) -> Column:
    """Winnowing-style document fingerprint: hash each k-char shingle
    (portable md5 hash), then keep per-window minima — the rolling-hash
    fingerprint family, as a sorted distinct array of selected hashes.

    Two-level bind (review r9; previously a documented CAUTION that
    routed users to :func:`with_fingerprint`): the normalised text
    and then the k-gram hash array each evaluate ONCE per row, so the
    Column form now matches the staged-projection DataFrame form —
    without the binds, the hash subtree re-evaluated inside every
    window's slice (O(n·window·n) md5 calls).

    For the oracle-checkable single-value form see ``portable_hash64``
    over the normalised text.
    """
    def windows(hashes):
        nwin = F.size(hashes) - F.lit(window - 1)
        mins = F.when(nwin <= 0, F.array(F.array_min(hashes))) \
            .otherwise(F.transform(
                F.sequence(F.lit(1), nwin),
                lambda i: F.array_min(F.slice(hashes, i, window))))
        return F.array_sort(F.array_distinct(mins))

    def run(t, chars):
        # codepoint array bound once; slice+join per window is O(k)
        # where substr(i, k) walked O(i) bytes per call (r10 audit)
        count = F.size(chars) - F.lit(k - 1)
        hashes = F.when(count <= 0, F.array(portable_hash64(t))) \
            .otherwise(F.transform(
                F.sequence(F.lit(1), count),
                lambda i: portable_hash64(
                    F.array_join(F.slice(chars, i, k), ""))))
        return _bind_once(windows, hashes=hashes)

    norm = F.lower(F.regexp_replace(text, _WS, " "))
    return _bind_once(run, t=norm, chars=F.split(norm, ""))


def with_fingerprint(df, text_col: str = "text", id_col: str = "doc_id",
                     k: int = 8, window: int = 4,
                     out: str = "fps"):
    """Winnowing fingerprints with staged projections.

    Each stage's result binds to a real attribute, so the k-gram md5
    array is computed exactly once per row (CollapseProject keeps
    multi-referenced non-trivial aliases apart) — the same staging
    discipline as ``llm.dedup.with_minhash``.  Returns (id, fps).
    """
    t = F.lower(F.regexp_replace(F.col(text_col), _WS, " "))
    s1 = df.select(F.col(id_col), t.alias("__t"),
                   F.split(t, "").alias("__chars"))
    tcol, ccol = F.col("__t"), F.col("__chars")
    # staged codepoint array: slice+join per window is O(k) where
    # substr(i, k) walked O(i) bytes per call (r10 audit)
    count = F.size(ccol) - F.lit(k - 1)
    hashes = F.when(count <= 0, F.array(portable_hash64(tcol))).otherwise(
        F.transform(F.sequence(F.lit(1), count),
                    lambda i: portable_hash64(
                        F.array_join(F.slice(ccol, i, k), ""))))
    s2 = s1.select(id_col, hashes.alias("__hashes"))
    h = F.col("__hashes")
    nwin = F.size(h) - F.lit(window - 1)
    mins = F.when(nwin <= 0, F.array(F.array_min(h))).otherwise(
        F.transform(F.sequence(F.lit(1), nwin),
                    lambda i: F.array_min(F.slice(h, i, window))))
    s3 = s2.select(id_col, mins.alias("__mins"))
    return s3.select(
        id_col,
        F.array_sort(F.array_distinct(F.col("__mins"))).alias(out))


def bigram_repetition(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Within-document repetition signals (the Gopher-rules family of
    quality filters): word-bigram duplicate ratio and the most
    frequent bigram's share of the document.

    Machine-generated and boilerplate text repeats local n-grams far
    above natural-language rates, so ``dup_ratio`` (1 - distinct/total
    bigrams) and ``max_gram_frac`` are standard drop criteria before
    training.  Plan shape: one scan -> explode bigrams -> two
    partial-merged aggregations keyed on (doc, gram) then (doc) — no
    Python, no skew (keys are per-document).

    Returns ``(id_col, n_grams, n_distinct, dup_ratio,
    max_gram_frac)`` for documents with at least one bigram.
    """
    from ..session import ensure_parallelism

    # the token array stages as a projection slot: inlined, the
    # per-gram element_at pair would re-split the text per bigram
    # (review r9 — the char_ngrams re-expansion class)
    staged = (df.select(F.col(id_col),
                        tokens(F.lower(F.col(text_col))).alias("__toks"))
              .where(F.size("__toks") >= 2))
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i),
                              F.element_at(toks, i + 1)))
    # n_grams is derived from the per-gram counts (sum) rather than
    # size() on the gram array: referencing the gram chain twice
    # (size + explode) re-evaluates it per exploded row, and
    # InferFiltersFromGenerate clones any explode input into the scan
    # filter — keep that cloned expression the only extra evaluation
    base = (ensure_parallelism(staged)
            .select(F.col(id_col), F.explode(grams).alias("gram")))
    per_gram = (base.groupBy(id_col, "gram")
                .agg(F.count(F.lit(1)).alias("cnt")))
    totals = (per_gram.groupBy(id_col)
              .agg(F.sum("cnt").alias("n_grams"),
                   F.count(F.lit(1)).alias("n_distinct"),
                   F.max("cnt").alias("max_cnt")))
    return totals.select(
        id_col, "n_grams", "n_distinct",
        F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_grams"), 6)
         .alias("dup_ratio"),
        F.round(F.col("max_cnt") / F.col("n_grams"), 6)
         .alias("max_gram_frac"))


def learn_bpe_merges(df: DataFrame, text_col: str = "text",
                     k: int = 8) -> list[tuple]:
    """Learn the first ``k`` BPE merges over the corpus vocabulary —
    the tokenizer-TRAINING step (Sennrich et al. 2016, public): per
    iteration, count adjacent symbol pairs over word TYPES weighted by
    frequency, merge the most frequent pair (ties break
    lexicographically), rewrite the vocabulary, repeat.

    Returns ``[(rank, left, right, pair_count), ...]``.

    Scale shape: the working set is the word-TYPE table (vocabulary-
    bounded, like ``vocab_topk`` — millions of rows at 100 TB, not
    trillions), built from the corpus with one explode+agg.  Each
    iteration is one pair-count aggregation over that table plus a
    1-row driver argmax (the same constant-rounds driver coordination
    as k-means centroids); the merge rewrite is a map-side array fold
    (greedy leftmost-first, the BPE application rule).  ``k`` is a
    small constant, so total cost is k vocabulary-sized aggregates.
    """
    from pyspark.sql import functions as F

    if k < 1:
        raise ValueError(f"learn_bpe_merges: k must be >= 1, got {k}")
    words = (df.select(F.explode(F.split(F.trim(F.lower(
        F.col(text_col))), r"\s+")).alias("w"))
        .where(F.length("w") > 0))
    types = (words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
             .select(F.split("w", "").alias("toks"), "freq")
             .localCheckpoint(eager=False))

    merges: list[tuple] = []
    for rank in range(k):
        n = F.size("toks")
        pairs = types.where(n >= 2).select(
            "freq",
            F.explode(F.zip_with(
                F.slice("toks", 1, n - 1),
                F.slice("toks", 2, n - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b"))))
            .alias("p"))
        top = (pairs.groupBy("p.a", "p.b")
               .agg(F.sum("freq").alias("cnt"))
               .orderBy(F.col("cnt").desc(), F.col("a").asc(),
                        F.col("b").asc())
               .limit(1).collect())
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, top[0].cnt
        merges.append((rank, a, b, int(cnt)))
        merged = a + b
        fold = F.aggregate(
            "toks", F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.lit(merged))))
            .otherwise(F.concat(acc, F.array(x))))
        types = types.select(fold.alias("toks"), "freq") \
            .localCheckpoint(eager=False)
    return merges


def apply_bpe_merges(text: Column, merges: list[tuple]) -> Column:
    """Tokenize ``text`` words with a learned merge list (the
    APPLICATION half of :func:`learn_bpe_merges`): split to
    characters, then apply each merge in rank order as a greedy
    leftmost-first array fold.  Merges are literals baked into the
    plan, so tokenization is pure map-side codegen — the 100 TB
    tokenize pass needs no state, no joins, no Python.

    Returns ``array<array<string>>`` — per word, its BPE symbols.
    """
    from pyspark.sql import functions as F

    words = F.filter(F.split(F.trim(F.lower(text)), r"\s+"),
                     lambda w: F.length(w) > 0)

    def merge_fold(a, b):
        merged = a + b

        def step(acc, x):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.lit(merged)))) \
                .otherwise(F.concat(acc, F.array(x)))
        return step

    def tokenize(w):
        toks = F.split(w, "")
        for _, a, b, _cnt in merges:
            toks = F.aggregate(toks, F.array().cast("array<string>"),
                               merge_fold(a, b))
        return toks

    return F.transform(words, tokenize)

#!/usr/bin/env python
"""Structural guard for the HOF lambda re-expansion class (r9 review,
r9 verdict item 1).

Catalyst subexpression elimination stops at lambda scopes: an
expression referenced inside a ``transform`` / ``zip_with`` /
``aggregate`` lambda body re-evaluates PER ELEMENT.  A kernel that
folds or slices an O(n) subexpression n times is therefore O(n^2) —
invisible to plan_audit (expression-level, not a plan node) and to
the narrow sf testdata (64-channel / 200-char rows), catastrophic at
the reference's own big_ms stress shape (4096 channels,
daskms/conftest.py:35-86) and on multi-KB documents.

The r9 ``_bind_once`` fixes were point-wise; this harness makes the
class structural:

1. **Completeness**: every public Column-returning kernel in
   ``functions/{vector,text,complexf}.py`` and ``llm/dedup.py``
   (enumerated by AST scan, so new kernels are picked up
   automatically) MUST have a wide-fixture invocation registered in
   ``INVOCATIONS`` below — adding a kernel without one fails pytest.
2. **Wall budget**: each invocation runs on a purpose-built wide
   fixture (4096-element arrays / 64 KB documents) with
   EXPRESSION-typed array inputs — an O(n) expression per input, so
   a kernel that fails to bind an input before using it inside a
   lambda goes quadratic — under a per-kernel wall budget enforced
   by job-group cancellation.  Bound kernels finish in well under
   half the budget; a re-expanded kernel overshoots it by orders of
   magnitude (measured 40x for the derived-scalar ``normalize``
   class and 233x for ``spectral_moments`` input binding at 2048
   channels).
3. **Negative controls**: deliberately unbound twins of
   ``spectral_moments`` (unbound INPUT) and ``normalize`` (unbound
   DERIVED scalar — binding the input does not help; the O(n) fold
   rebuilt from the bound input inside the lambda still re-expands)
   must BLOW the budget, proving the harness separates the classes
   on this host rather than rubber-stamping.
4. **Advisory scan**: nested HOFs inside lambda bodies are reported
   (not failed — bounded per-element windows are legitimate).

Usage:
    python tools/audit_hof.py              # full audit + report
    python tools/audit_hof.py --controls   # negative controls only

pytest wiring: tests/test_hof_audit.py runs the completeness check,
the budget sweep, and one negative control per class.
"""

from __future__ import annotations

import ast
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import Column  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

# ---------------------------------------------------------------- shapes
WIDTH = 4096          # vector elements — the big_ms channel count
N_CPLX = WIDTH // 2   # complex channels in an interleaved array
DOC_BYTES = 64 * 1024
N_ROWS_VEC = 1000
N_ROWS_TXT = 120
BUDGET_S = 20.0       # per-kernel wall budget on the wide fixture
# phase_rotate bakes one literal per channel into the plan; audit it
# at a narrower comb so plan construction stays cheap while the
# per-element re-expansion (which scales with data width) would
# still overshoot: 512 channels quadratic ~= 30s+ vs ~1s bound.
PHASE_CHANNELS = 512

# r12 (r11 verdict item 1): the enumeration is PACKAGE-WIDE — every
# .py under dask_ms_spark/ is scanned; a new HOF site anywhere in the
# package (any import spelling — ADVICE r11: `from pyspark.sql import
# functions as sf`, `from pyspark.sql.functions import transform`, or
# a lambda-taking call by HOF name — is detected by AST walk, not by
# an `F.`-prefixed substring) must be budget-run or whitelisted.
PKG = "dask_ms_spark"

_HOF_NAMES = frozenset({"transform", "aggregate", "zip_with", "filter",
                        "exists", "forall", "reduce"})

# Column kernels that cannot be invoked as a bare Column thunk; each
# entry names the df_ops() surface that budget-runs it instead.
KERNEL_WHITELIST = {
    "expressions.data_column_expr":
        "takes (DataFrame, str) to resolve array-vs-scalar columns "
        "from the schema; budget-run wide via the df_ops entry "
        "expressions._Lowering.lower (4096-element arrays through "
        "zip_with/transform/unary-minus/floordiv/mod)",
}


def _package_files() -> list[str]:
    out = []
    for root, _dirs, files in os.walk(os.path.join(ROOT, PKG)):
        for f in sorted(files):
            if f.endswith(".py"):
                out.append(os.path.join(root, f))
    return out


def _leaf(path: str) -> str:
    return os.path.splitext(os.path.basename(path))[0]


def _alias_sets(tree):
    """(functions-module aliases, HOF names imported directly from
    pyspark.sql.functions, names imported from functools) for one
    module — the import-robust detection ADVICE r11 asked for."""
    f_aliases, f_funcs, functools_names = set(), set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.module == "pyspark.sql":
                for a in node.names:
                    if a.name == "functions":
                        f_aliases.add(a.asname or a.name)
            elif node.module == "pyspark.sql.functions":
                for a in node.names:
                    if a.name in _HOF_NAMES:
                        f_funcs.add(a.asname or a.name)
            elif node.module == "functools":
                for a in node.names:
                    functools_names.add(a.asname or a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name == "pyspark.sql.functions" and a.asname:
                    f_aliases.add(a.asname)
    return f_aliases, f_funcs, functools_names


def _is_hof_call(node, f_aliases, f_funcs, functools_names) -> bool:
    """A Call is a higher-order-function site when it targets a HOF
    name through ANY import spelling: `<functions-alias>.<hof>(...)`
    (with or without a lambda — `F.transform(col, F.length)` counts),
    a directly-imported HOF name, or any `.{hof}(...)` / bare
    `{hof}(...)` call that takes a lambda argument (df.filter(cond)
    has no lambda; functools.reduce is excluded by import origin)."""
    if not isinstance(node, ast.Call):
        return False
    fn = node.func
    has_lambda = any(isinstance(a, ast.Lambda) for a in node.args)
    if isinstance(fn, ast.Attribute) and fn.attr in _HOF_NAMES:
        if isinstance(fn.value, ast.Name) and fn.value.id in f_aliases:
            return True
        if has_lambda:
            return True
    if isinstance(fn, ast.Name) and fn.id in _HOF_NAMES:
        if fn.id in f_funcs:
            return True
        if has_lambda and fn.id not in functools_names:
            return True
    return False


def _scan_package() -> tuple[dict[str, list[str]], dict[str, list[str]]]:
    """One AST pass over the whole package.  Returns
    (kernels, hof_defs): ``kernels[mod] = [public module-level defs
    annotated -> Column]`` and ``hof_defs[mod] = [def or Class.method
    names whose subtree contains a HOF call site]`` (Column kernels
    excluded — they ride the kernel sweep).  ``mod`` is the module
    leaf name; uniqueness among modules WITH findings is asserted so
    ``mod.def`` keys stay unambiguous."""
    kernels: dict[str, list[str]] = {}
    hof_defs: dict[str, list[str]] = {}
    seen_leaf: dict[str, str] = {}
    for path in _package_files():
        tree = ast.parse(open(path).read())
        aliases = _alias_sets(tree)
        mod = _leaf(path)
        kn, hn = [], []

        def scan(body, prefix, _aliases=aliases, _kn=kn, _hn=hn):
            for node in body:
                if isinstance(node, ast.ClassDef):
                    scan(node.body, prefix + node.name + ".")
                    continue
                if not isinstance(node, ast.FunctionDef):
                    continue
                ret = getattr(node, "returns", None)
                is_kernel = (not prefix
                             and not node.name.startswith("_")
                             and ret is not None
                             and ast.unparse(ret) == "Column")
                if is_kernel:
                    _kn.append(node.name)
                    continue
                if any(_is_hof_call(n, *_aliases)
                       for n in ast.walk(node)):
                    _hn.append(prefix + node.name)

        scan(tree.body, "")
        if not kn and not hn:
            continue
        if mod in seen_leaf:
            raise AssertionError(
                f"module leaf name collision: {path} vs "
                f"{seen_leaf[mod]} — qualify the enumeration")
        seen_leaf[mod] = path
        if kn:
            kernels[mod] = kn
        if hn:
            hof_defs[mod] = hn
    return kernels, hof_defs


def exported_kernels() -> dict[str, list[str]]:
    """Public module-level functions with a Column return annotation,
    package-wide — the enumeration the kernel completeness check runs
    on (each needs an invocations() entry or a KERNEL_WHITELIST
    reason)."""
    return _scan_package()[0]


def hof_bearing_defs() -> list[str]:
    """``mod.name`` for every def (public OR private, module-level or
    class method) ANYWHERE in the package whose subtree contains a
    HOF call site — EXCLUDING public Column-annotated kernels (those
    ride the exported_kernels sweep).  Each enumerated name must have
    a df_ops() invocation or a DF_OP_WHITELIST reason: a new
    HOF-bearing operator anywhere in dask_ms_spark/ fails the
    completeness test until it is budget-run or explicitly
    adjudicated (the r10 gate covered 4 modules and a kernel one
    directory over bypassed it — r10 verdict item 3; the r11 gate
    covered 21 hand-listed modules and three files remained outside —
    r11 verdict item 1)."""
    hof = _scan_package()[1]
    return [f"{mod}.{name}" for mod in sorted(hof)
            for name in hof[mod]]


# ------------------------------------------------------------- fixtures
def wide_vector_df(spark):
    """1000 rows of deterministic 4096-wide arrays + masks + scalars.
    Persisted so fixture construction is excluded from kernel time."""
    df = spark.range(N_ROWS_VEC).select(
        "id",
        F.transform(F.sequence(F.lit(1), F.lit(WIDTH)),
                    lambda i: ((F.col("id") + i) % 97).cast("double")
                    + 1.0).alias("v"),
        F.transform(F.sequence(F.lit(1), F.lit(WIDTH)),
                    lambda i: ((F.col("id") * 3 + i) % 89).cast("double")
                    + 1.0).alias("v2"),
        F.transform(F.sequence(F.lit(1), F.lit(WIDTH)),
                    lambda i: (F.col("id") + i) % 7 != 0).alias("m"),
        F.transform(F.sequence(F.lit(1), F.lit(2 * PHASE_CHANNELS)),
                    lambda i: ((F.col("id") + i) % 83).cast("double")
                    / 41.0 - 1.0).alias("ph"),
        F.transform(F.sequence(F.lit(1), F.lit(8)),
                    lambda i: ((F.col("id") + i) % 13).cast("double")
                    - 6.0).alias("corr8"),
        ((F.col("id") % 100).cast("double") / 50.0 - 1.0).alias("sc"))
    df = df.persist()
    df.count()
    return df


def wide_text_df(spark):
    """120 rows of ~64 KB deterministic documents."""
    sent = ("the quick brown fox jumps over the lazy dog while "
            "radio interferometers average visibilities across "
            "channels and correlators emit spectral windows ")
    reps = DOC_BYTES // len(sent) + 1
    df = spark.range(N_ROWS_TXT).select(
        "id",
        F.concat(F.concat_ws(" ", F.lit("doc"),
                             F.col("id").cast("string")),
                 F.lit(" "),
                 F.repeat(F.lit(sent), reps)).alias("text"))
    df = df.persist()
    df.count()
    return df


def wide_ms_df(spark):
    """128 rows (8 baselines x 16 times) of MS-shaped wide tensors:
    4096-wide DATA/FLAG (the big_ms channel count as interleaved
    complex: 2048 channels), a per-row uvdist and weight."""
    df = (spark.range(128)
          .select((F.col("id") % 8).alias("a1"),
                  ((F.col("id") % 8) + 1).alias("a2"),
                  (F.col("id") / 8).cast("int").cast("double")
                  .alias("t"),
                  ((F.col("id") % 40).cast("double") * 25.0)
                  .alias("uvd"),
                  ((F.col("id") % 9).cast("double") + 1.0).alias("w"),
                  F.transform(F.sequence(F.lit(1), F.lit(WIDTH)),
                              lambda i: ((F.col("id") + i) % 83)
                              .cast("double") / 41.0 - 1.0)
                  .alias("DATA"),
                  F.transform(F.sequence(F.lit(1), F.lit(WIDTH)),
                              lambda i: (F.col("id") + i) % 11 == 0)
                  .alias("FLAG")))
    df = df.persist()
    df.count()
    return df


def wide_emb_df(spark):
    """200 rows of 4096-dim embeddings (deterministic)."""
    df = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(WIDTH)),
                    lambda i: ((F.col("id") * 7 + i) % 101)
                    .cast("double") / 50.0 - 1.0).alias("embedding"))
    df = df.persist()
    df.count()
    return df


def wide_katvis_df(spark):
    """(time, corrprod)-keyed visibilities at the reference's big_ms
    stress width (daskms/conftest.py:35-86): 16 dumps x 16 corrprods
    (4 baselines x 4 corrs), each a 4096-chan array — the input shape
    of sources/katdal.transpose_to_rowmajor."""
    df = spark.range(256).select(
        (F.col("id") / 16).cast("int").cast("double").alias("time"),
        (F.col("id") % 16).alias("corrprod"),
        F.transform(F.sequence(F.lit(1), F.lit(WIDTH)),
                    lambda i: ((F.col("id") + i) % 73).cast("double")
                    / 36.0 - 1.0).alias("data"))
    df = df.persist()
    df.count()
    return df


def katvis_cp_index(spark):
    """corrprod -> (antenna1, antenna2, corr) for the katvis fixture:
    4 baselines x 4 correlation products."""
    rows = [(b * 4 + corr, b // 2, b % 2 + 2, corr)
            for b in range(4) for corr in range(4)]
    return spark.createDataFrame(
        rows, "corrprod long, antenna1 int, antenna2 int, corr int")


def _ex(c: Column) -> Column:
    """Wrap an array column as an O(n) EXPRESSION (identity transform)
    so any kernel that re-evaluates an unbound input inside a lambda
    body goes quadratic instead of merely re-reading a column."""
    return F.transform(c, lambda x: x)


def _exs(c: Column) -> Column:
    """Cheap non-trivial scalar expression input."""
    return c * 1.0 + 0.0


# ----------------------------------------------------- invocation table
def _invocations():
    from dask_ms_spark.functions import complexf as cf
    from dask_ms_spark.functions import mscal as ms
    from dask_ms_spark.functions import text as tx
    from dask_ms_spark.functions import vector as vec
    from dask_ms_spark.llm import dedup as dd
    from dask_ms_spark.llm import sampling as sp
    from dask_ms_spark.llm import similarity as sim
    from dask_ms_spark.operators import calibration as cal

    # (rank, a, b, count) rows, the learn_bpe_merges output shape
    bpe_merges = [(i, a, b, 100 - i) for i, (a, b) in enumerate(
        [("t", "h"), ("th", "e"), ("a", "n"),
         ("an", "d"), ("o", "v"), ("e", "r")])]
    import math
    xs = [100.0 + 0.5 * i for i in range(WIDTH)]
    freqs = [1.0e9 + 1.0e6 * k for k in range(PHASE_CHANNELS)]
    del math

    c = F.col
    return {
        # ---- vector (fixture: wide_vector_df) --------------------
        "vector.dot": lambda: vec.dot(_ex(c("v")), _ex(c("v2"))),
        "vector.norm": lambda: vec.norm(_ex(c("v"))),
        "vector.cosine": lambda: vec.cosine(_ex(c("v")), _ex(c("v2"))),
        "vector.l2_distance":
            lambda: vec.l2_distance(_ex(c("v")), _ex(c("v2"))),
        "vector.normalize": lambda: vec.normalize(_ex(c("v"))),
        "vector.masked_bin_average":
            lambda: vec.masked_bin_average(_ex(c("v")), _ex(c("m")), 64),
        "vector.weighted_bin_average":
            lambda: vec.weighted_bin_average(_ex(c("v")), _ex(c("v2")),
                                             64),
        "vector.masked_bin_average_dyn":
            lambda: vec.masked_bin_average_dyn(_ex(c("v")), _ex(c("m")),
                                               F.lit(32) + F.lit(32)),
        "vector.log_log_fit": lambda: vec.log_log_fit(_ex(c("v")), xs),
        "vector.channel_regrid":
            lambda: vec.channel_regrid(_ex(c("v")), _exs(c("sc")),
                                       WIDTH),
        "vector.spectral_moments":
            lambda: vec.spectral_moments(_ex(c("v")), _ex(c("m"))),
        "vector.hanning_smooth": lambda: vec.hanning_smooth(_ex(c("v"))),
        "vector.uvcontsub": lambda: vec.uvcontsub(_ex(c("v")),
                                                  _ex(c("m"))),
        # ---- complexf (fixture: wide_vector_df; interleaved) ------
        "complexf.c_make": lambda: cf.c_make(_ex(c("v")), _ex(c("v2"))),
        "complexf.c_add": lambda: cf.c_add(_ex(c("v")), _ex(c("v2"))),
        "complexf.c_sub": lambda: cf.c_sub(_ex(c("v")), _ex(c("v2"))),
        "complexf.c_mul": lambda: cf.c_mul(_ex(c("v")), _ex(c("v2"))),
        "complexf.c_conj": lambda: cf.c_conj(_ex(c("v"))),
        "complexf.c_scale": lambda: cf.c_scale(_ex(c("v")), _exs(c("sc"))),
        "complexf.c_abs2": lambda: cf.c_abs2(_ex(c("v"))),
        "complexf.c_abs": lambda: cf.c_abs(_ex(c("v"))),
        "complexf.c_real": lambda: cf.c_real(_ex(c("v"))),
        "complexf.c_imag": lambda: cf.c_imag(_ex(c("v"))),
        "complexf.c_sum": lambda: cf.c_sum(_ex(c("v"))),
        "complexf.c_expand_mask": lambda: cf.c_expand_mask(_ex(c("m"))),
        "complexf.phase_rotate":
            lambda: cf.phase_rotate(_ex(c("ph")), _exs(c("sc")),
                                    _exs(c("sc")), _exs(c("sc")),
                                    0.05, -0.08, freqs),
        "complexf.stokes_from_corrs":
            lambda: cf.stokes_from_corrs(_ex(c("corr8"))),
        "complexf.corrs_from_stokes":
            lambda: cf.corrs_from_stokes(_ex(c("corr8"))),
        # ---- text (fixture: wide_text_df) --------------------------
        "text.portable_hash64": lambda: tx.portable_hash64(c("text")),
        "text.tokens": lambda: tx.tokens(c("text")),
        "text.token_count": lambda: tx.token_count(c("text")),
        "text.char_ngrams": lambda: tx.char_ngrams(c("text"), 3),
        "text.word_shingles": lambda: tx.word_shingles(c("text"), 3),
        "text.langid_scores": lambda: F.struct(
            *[v.alias(k) for k, v in
              sorted(tx.langid_scores(c("text")).items())]),
        "text.langid": lambda: tx.langid(c("text")),
        "text.quality_features": lambda: F.struct(
            *[v.alias(k) for k, v in
              sorted(tx.quality_features(c("text")).items())]),
        "text.fingerprint": lambda: tx.fingerprint(c("text")),
        "text.stopword_ratio": lambda: tx.stopword_ratio(c("text")),
        "text.bpe_tokens": lambda: tx.bpe_tokens(c("text")),
        "text.bpe_token_count": lambda: tx.bpe_token_count(c("text")),
        "text.apply_bpe_merges":
            lambda: tx.apply_bpe_merges(c("text"), bpe_merges),
        # ---- llm.dedup Column helpers (fixture: wide_text_df) ------
        "dedup.normalize_text": lambda: dd.normalize_text(c("text")),
        "dedup.shingle_base_hashes":
            lambda: dd.shingle_base_hashes(c("text"), 5),
        "dedup.minhash_signature":
            lambda: dd.minhash_signature(c("text"), 32, 5),
        "dedup.minhash_from_base":
            lambda: dd.minhash_from_base(
                dd.shingle_base_hashes(c("text"), 5), 32),
        "dedup.simhash": lambda: dd.simhash(c("text"), 4, 60),
        # ---- r11 extension (r10 verdict item 3) --------------------
        # mscal: scalar trig over a time column (vector fixture's sc
        # scaled into the MJD-seconds range)
        "mscal.gmst_hours":
            lambda: ms.gmst_hours(_exs(c("sc")) * 4.0e9 + 4.0e9),
        "mscal.hour_angle_deg":
            lambda: ms.hour_angle_deg(_exs(c("sc")) * 4.0e9 + 4.0e9,
                                      F.lit(21.44), F.lit(80.0)),
        "mscal.parallactic_angle_deg":
            lambda: ms.parallactic_angle_deg(
                _exs(c("sc")) * 4.0e9 + 4.0e9, F.lit(21.44),
                F.lit(-30.71), F.lit(80.0), F.lit(-45.0)),
        "mscal.elevation_deg":
            lambda: ms.elevation_deg(_exs(c("sc")) * 4.0e9 + 4.0e9,
                                     F.lit(21.44), F.lit(-30.71),
                                     F.lit(80.0), F.lit(-45.0)),
        # llm.sampling / llm.similarity Column kernels
        "sampling.hash_bucket": lambda: sp.hash_bucket(c("text")),
        "similarity.hyperplane_signature":
            lambda: sim.hyperplane_signature(_ex(c("v")), WIDTH,
                                             num_planes=4),
        # operators.calibration Column kernel (linearithmic scan
        # spelling, r11 — the fold-and-concat original was O(n^2))
        "calibration.unwrap_phases":
            lambda: cal.unwrap_phases(_ex(c("v"))),
        "vector.prefix_sum": lambda: vec.prefix_sum(_ex(c("v"))),
        # r12 (r11 verdict item 1): package-wide kernel enumeration
        # pulled in the z-order layout key (scalar bit interleave —
        # bounded by `bits`, no HOF; budget-run for uniformity)
        "ordering.zorder_key":
            lambda: _zorder([_exs(c("sc")) * 100.0 + 100.0,
                             (c("id") % 97).cast("double")]),
    }


def _zorder(cols):
    from dask_ms_spark.operators.ordering import zorder_key

    return zorder_key(cols)


def invocations():
    """name -> (fixture_kind, column_thunk)."""
    inv = _invocations()
    return {k: ("text" if k.split(".")[0] in ("text", "dedup",
                                              "sampling")
                else "vector", fn) for k, fn in inv.items()}


# --------------------------------------------- DataFrame-op audit
# Explode-based document operators are outside the Column-kernel
# enumeration but carry the same quadratic classes (the r10 audit
# found post-explode ``substr(pos, w)`` — an O(pos) byte walk per
# window, O(len^2) per document — in substring_dedup and
# chunk_documents).  Curated list (no return-type rule separates
# kernels from orchestrators here); each runs on the wide text
# fixture under the same budget.
DF_BUDGET_S = 20.0


def df_ops():
    """name -> (fixture_kind, df -> DataFrame).  Keys are either the
    curated r10 list (text orchestrators) or names enumerated by
    hof_bearing_defs(); kinds select the wide fixture (text / ms /
    emb)."""
    from dask_ms_spark import expressions
    from dask_ms_spark.functions import complexf as cf
    from dask_ms_spark.functions import text as tx
    from dask_ms_spark.llm import (clustering, contamination, corpus,
                                   dedup, semantic, similarity)
    from dask_ms_spark.operators import bda, calibration, grouping, rfi
    from dask_ms_spark.sources import katdal

    def with_id(df):
        return df.select(F.col("id").alias("doc_id"), "text")

    def gains_for(df):
        """Per-antenna interleaved complex gains at the vis width."""
        return df.sparkSession.range(16).select(
            F.col("id").alias("antenna"),
            F.transform(F.sequence(F.lit(1), F.lit(WIDTH)),
                        lambda i: ((F.col("id") + i) % 19)
                        .cast("double") / 19.0 + 0.5).alias("gain"))

    freqs = [1.0e9 + 1.0e6 * k for k in range(WIDTH // 2)]

    return {
        # -- text orchestrators (curated, r10) ------------------------
        "corpus.substring_dedup":
            ("text", lambda df: corpus.substring_dedup(with_id(df))),
        "corpus.chunk_documents":
            ("text", lambda df: corpus.chunk_documents(with_id(df))),
        "corpus.char_entropy":
            ("text", lambda df: corpus.char_entropy(with_id(df))),
        # its lambdas live in one SQL expression (the feature fold
        # over the sorted token array), out of the AST scan's sight
        "corpus.quality_filter":
            ("text", lambda df: corpus.quality_filter(with_id(df))),
        "dedup.exact_dedup":
            ("text", lambda df: dedup.exact_dedup(with_id(df))),
        "dedup.with_minhash":
            ("text", lambda df: dedup.with_minhash(with_id(df))),
        "dedup.with_simhash":
            ("text", lambda df: dedup.with_simhash(with_id(df))),
        "text.with_fingerprint":
            ("text", lambda df: tx.with_fingerprint(with_id(df))),
        # -- r11: corpus HOF-bearing operators (hof_bearing_defs) -----
        "corpus.dedup_paragraphs":
            ("text", lambda df: corpus.dedup_paragraphs(with_id(df))),
        "corpus.ngram_novelty":
            ("text", lambda df: corpus.ngram_novelty(with_id(df))),
        "corpus.phrase_boilerplate":
            ("text",
             lambda df: corpus.phrase_boilerplate(with_id(df))),
        "corpus.lm_perplexity":
            ("text", lambda df: corpus.lm_perplexity(with_id(df))),
        "corpus.collocations_pmi":
            ("text",
             lambda df: corpus.collocations_pmi(with_id(df))),
        "corpus.c4_line_filter":
            ("text", lambda df: corpus.c4_line_filter(with_id(df))),
        "contamination._raw_grams":
            ("text",  # driven via its public caller at 64 KB docs
             lambda df: contamination.contamination_report(
                 with_id(df), with_id(df.limit(4)))),
        # -- r11: MS tensor operators (4096-wide DATA/FLAG) -----------
        "bda.bda_average":
            ("ms", lambda df: bda.bda_average(
                df, "t", ["a1", "a2"], "uvd", 1.0, 500.0,
                data_col="DATA", flag_col="FLAG", weight_col="w")),
        "bda.flag_summary":
            ("ms", lambda df: bda.flag_summary(df, ["a1", "a2"],
                                               "FLAG")),
        "calibration.delay_fit":
            ("ms", lambda df: calibration.delay_fit(df, "DATA",
                                                    freqs)),
        "rfi.flag_grow":
            ("ms", lambda df: rfi.flag_grow(df, "t", ["a1", "a2"],
                                            "FLAG")),
        "rfi.rfi_flag":
            ("ms", lambda df: rfi.rfi_flag(df, "t", ["a1", "a2"],
                                           "DATA", "FLAG")),
        "grouping.tensor_row_average":
            ("ms", lambda df: grouping.tensor_row_average(
                df, ["a1", "a2"], "DATA", mask_col="FLAG")),
        # -- r11: embedding operators (4096-dim vectors) --------------
        "clustering.kmeans_assign":
            ("emb", lambda df: clustering.kmeans_assign(df)),
        "semantic.semantic_dedup":
            ("emb", lambda df: semantic.semantic_dedup(df)),
        # random_projection's coefficient stream is 256-dim-capped by
        # its cross-engine-mirror contract (it raises loudly above) —
        # audit at that cap; its HOFs are all target-bound (vec is a
        # zip_with/transform TARGET), so no lambda-body re-expansion
        # surface exists beyond what 256 wide already drives
        "similarity.random_projection":
            ("emb", lambda df: similarity.random_projection(
                df.select("vec_id",
                          F.slice("embedding", 1, 256)
                          .alias("embedding")),
                256, out_dim=4)),
        "similarity.pq_encode":
            ("emb", lambda df: similarity.pq_encode(
                df, similarity.pq_codebooks(df, WIDTH), WIDTH)),
        "similarity.pq_topk":
            ("emb", lambda df: similarity.pq_topk(
                df, df.limit(4), WIDTH, k=5)),
        "similarity.ivfpq_topk":
            ("emb", lambda df: similarity.ivfpq_topk(
                df, df.limit(4), WIDTH, k=5)),
        "similarity._l2sq_fixed":
            ("emb",  # the PQ distance kernel, via its public caller
             lambda df: similarity.pq_topk(df.limit(64), df.limit(2),
                                           WIDTH, k=3)),
        # -- r12 (r11 verdict item 1): the last files outside the gate
        # P4 expression DSL: drive every lowering path (zip_with,
        # array-scalar transform, scalar-array transform, unary minus,
        # floordiv, mod) over the 4096-wide fixture arrays — the
        # reference's own example shape (daskms/expressions.py:57-109)
        "expressions._Lowering.lower":
            ("vector", lambda df: df.select(
                expressions.data_column_expr(
                    df, "-(v + v2) / (v2 + 1.5) * 2.5 % 3.0 // 1.0"
                        " + sc - 2.0 * v").alias("r"))),
        # katdal transpose at the big_ms stress shape (4096 chans,
        # daskms/conftest.py:35-86): nested transform flipping
        # corr-major collect_list output to chan-major
        "katdal.transpose_to_rowmajor":
            ("katvis", lambda df: katdal.transpose_to_rowmajor(
                df, katvis_cp_index(df.sparkSession))),
        # dedup pair machinery (DataFrame ops beside the Column
        # kernels already swept): banded LSH + exact-verify paths
        "dedup.minhash_lsh_pairs":
            ("text", lambda df: dedup.minhash_lsh_pairs(with_id(df))),
        "dedup.lsh_jaccard_pairs":
            ("text", lambda df: dedup.lsh_jaccard_pairs(with_id(df))),
        "dedup.ngram_jaccard_pairs":
            ("text",
             lambda df: dedup.ngram_jaccard_pairs(with_id(df))),
        # Gopher-family repetition signals over 64 KB docs
        "text.bigram_repetition":
            ("text", lambda df: tx.bigram_repetition(with_id(df))),
        # antenna-gain application over 4096-wide interleaved vis
        "complexf.apply_gains":
            ("ms", lambda df: cf.apply_gains(
                df, gains_for(df), ant1_col="a1", ant2_col="a2",
                data_col="DATA")),
    }


# Enumerated HOF-bearing defs that are deliberately NOT budget-run;
# every entry carries the reason a wide-array fixture cannot expose a
# re-expansion class in it.  A NEW def in any DF_OP_SOURCES module
# must land here or in df_ops() — the completeness test fails
# otherwise.
DF_OP_WHITELIST = {
    "timeseries.windowed_ema":
        "HOF folds run over the O(window)-bounded collect_list frame "
        "(16 literal decay weights), never over a data-width array",
    "flagversions.diff_flagversions":
        "zip_with/filter popcounts whose targets are plain column "
        "attribute refs read back from a written flagversion store; "
        "store round-trips at MS widths are pytest-covered "
        "(tests/test_writes.py) and no expression input exists to "
        "re-expand",
    "sampling.curriculum_order":
        "the only HOF is an aggregate over the O(n_stages) broadcast "
        "threshold array (n_stages literal, default 4)",
    "similarity.build_ivf_index":
        "orchestrator that WRITES a Hive-partitioned index; its "
        "scoring kernels (dot/argmin/l2sq) are budget-run via "
        "kmeans_assign, pq_encode and pq_topk",
    # -- r12: package-wide enumeration pulled these in ----------------
    "vector._masked_bin_means":
        "the bin fold shared by masked_bin_average and "
        "masked_bin_average_dyn, whose inputs it receives already "
        "bound; both callers are budget-run wide in invocations()",
    "vector._ls_sums":
        "the four least-squares fold sums shared by log_log_fit and "
        "uvcontsub over their already-bound kept-pairs array; both "
        "callers are budget-run wide in invocations()",
    "corpus._word_grams":
        "the bound word-gram builder shared by ngram_novelty and "
        "phrase_boilerplate; both callers are budget-run on the wide "
        "text fixture in df_ops()",
    "similarity._pq_lut":
        "the per-query LUT build shared by pq_topk, pq_query_indexed "
        "and ivfpq_topk; pq_topk and ivfpq_topk are budget-run wide "
        "in df_ops()",
    "similarity._adc_ranked":
        "the asymmetric-distance scan shared by pq_topk, "
        "pq_query_indexed and ivfpq_topk; pq_topk and ivfpq_topk are "
        "budget-run wide in df_ops()",
    "vector._bind_once":
        "the binding primitive itself — a transform wrapper every "
        "kernel invocation above drives; no independent re-expansion "
        "surface exists (its lambda is the identity/restructuring "
        "closure the caller supplies over already-bound refs)",
    "zarr._column_stats":
        "the F.transform(col, F.length) / size() calls are bounded "
        "per-column STAT AGGREGATES (max string length, max array "
        "width) over plain column attribute refs computed once per "
        "write — never a per-element lambda over an expression input; "
        "write round-trips at MS widths are pytest-covered "
        "(tests/test_zarr.py).  The F.exists null-scan is a bounded "
        "per-column validation aggregate over a plain column ref on "
        "the write path; corruption-guard behaviour is pytest-covered "
        "(tests/test_zarr.py)",
    "text.learn_bpe_merges":
        "driver-side tokenizer TRAINING loop returning a python list; "
        "its HOF lambdas run over per-word-TYPE symbol arrays bounded "
        "by max word length (~tens of symbols), never by document or "
        "corpus width — a wide-doc fixture measures the iteration "
        "loop, not a re-expansion class; parity is pytest-covered "
        "(tests/test_functions.py BPE suite)",
}


def neg_substring_dedup_substr(df):
    """The pre-r10 substring_dedup spelling: window text via
    ``substr(pos, w)`` POST-explode — each call walks pos bytes, so a
    document costs O(len^2 / stride)."""
    from dask_ms_spark.functions.text import portable_hash64
    from dask_ms_spark.session import ensure_parallelism

    window, stride = 40, 10
    t = F.col("text")
    n = F.length(t)
    starts = F.when(n <= window, F.array(F.lit(1))).otherwise(
        F.sequence(F.lit(1), n - F.lit(window) + 1, F.lit(stride)))
    hashed = (ensure_parallelism(
        df.select(F.col("id").alias("doc_id"), "text"))
        .select(F.col("doc_id").alias("id"), t.alias("t"),
                F.explode(starts).alias("pos"))
        .select("id", portable_hash64(
            F.col("t").substr(F.col("pos"), F.lit(window)))
            .alias("wh"))
        .distinct())
    per_hash = hashed.groupBy("wh").agg(F.count(F.lit(1)).alias("nd"))
    return hashed.join(per_hash, "wh")         .groupBy("id").agg(F.count(F.lit(1)).alias("n"))


DF_NEGATIVE_CONTROLS = {
    "neg.substring_dedup_substr": neg_substring_dedup_substr,
}


def run_df_with_budget(spark, out_df, budget_s: float = DF_BUDGET_S):
    """Force a full noop write of ``out_df`` in a cancellable job
    group; returns (completed, elapsed_s, err)."""
    from pyspark import InheritableThread

    # a driver GC fires Spark's ContextCleaner, releasing broadcast/
    # shuffle blocks accumulated by earlier audit jobs — without it a
    # long sweep in one JVM pays rising heap pressure and late ops
    # blow their budgets for reasons unrelated to their own plan
    # (the bench.py discipline)
    jvm_system = getattr(getattr(spark, "_jvm", None), "System", None)
    if jvm_system is not None:
        jvm_system.gc()
    group = f"hof_audit_df_{time.monotonic_ns()}"
    state: dict = {}

    def work():
        try:
            spark.sparkContext.setJobGroup(group, "hof df audit",
                                           interruptOnCancel=True)
            t0 = time.monotonic()
            out_df.write.format("noop").mode("overwrite").save()
            state["t"] = time.monotonic() - t0
        except Exception as e:
            state["err"] = e

    t = InheritableThread(target=work)
    t.daemon = True
    start = time.monotonic()
    t.start()
    t.join(budget_s)
    if t.is_alive():
        spark.sparkContext.cancelJobGroup(group)
        t.join(30.0)
        _drain_cancelled(spark)
        return False, time.monotonic() - start, None
    if "err" in state:
        return False, time.monotonic() - start, state["err"]
    return True, state["t"], None


# ---------------------------------------------------- host calibration
# Budgets are wall-clock, so a contended host (another Spark suite on
# the same 32 cores) inflates every measurement uniformly and would
# false-fail the sweep.  A quick reference run of a known-bound
# kernel scales the budgets: steady state for vector.norm on the
# wide fixture is ~0.2 s; the factor is clamped to [1, 6] so a
# pathological host still cannot let a 40x quadratic pass.
NORM_STEADY_S = 0.25


def host_factor(spark, vdf) -> float:
    from dask_ms_spark.functions import vector as vec

    best = None
    for _ in range(2):
        t0 = time.monotonic()
        vdf.select(F.xxhash64(vec.norm(F.col("v"))).alias("h"))             .agg(F.sum(F.col("h").cast("double"))).collect()
        t1 = time.monotonic() - t0
        best = t1 if best is None else min(best, t1)
    return max(1.0, min(best / NORM_STEADY_S, 6.0))


# ------------------------------------------------------ negative controls
def neg_spectral_moments_unbound(v, m):
    """The PRE-r9 spelling of spectral_moments: per-index
    ``element_at`` over the EXPRESSION inputs inside the fold lambdas
    — every element access re-evaluates the O(n) input expression, so
    the moments cost O(n^2) per row.  (A zip_with over the inputs
    would NOT reproduce the bug: HOF *targets* evaluate once; only
    references inside lambda BODIES re-expand.)"""
    idx = F.sequence(F.lit(1), F.size(v))
    w = F.aggregate(
        idx, F.lit(0.0),
        lambda a, i: a + F.when(F.element_at(m, i),
                                F.element_at(v, i))
        .otherwise(F.lit(0.0)))
    mom1 = F.aggregate(
        idx, F.lit(0.0),
        lambda a, i: a + F.when(F.element_at(m, i),
                                F.element_at(v, i) * i.cast("double"))
        .otherwise(F.lit(0.0)))
    return F.struct((w / F.size(v)).alias("mean_w"),
                    F.when(w != 0, mom1 / w).alias("centroid"))


def neg_normalize_unbound(v):
    """The PRE-round-10 spelling of normalize: the derived O(n) norm
    fold is referenced inside the transform lambda — re-evaluated per
    element, O(n^2) even when the INPUT is a plain column."""
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v)


NEGATIVE_CONTROLS = {
    "neg.spectral_moments_unbound":
        lambda: neg_spectral_moments_unbound(
            _ex(F.col("v")), _ex(F.col("m"))),
    "neg.normalize_unbound":
        lambda: neg_normalize_unbound(_ex(F.col("v"))),
}


def _drain_cancelled(spark, timeout_s: float = 90.0) -> None:
    """Wait for the JVM to actually stop burning a cancelled job's
    tasks: cancelJobGroup interrupts, but whole-stage-codegen loops
    only notice at row boundaries, and a deliberately-quadratic row
    takes a while to reach one — anything measured while those
    threads still spin is contended and meaningless."""
    tracker = spark.sparkContext.statusTracker()
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout_s:
        if not tracker.getActiveJobsIds():
            return
        time.sleep(0.5)


def settle(spark, vdf, timeout_s: float = 300.0) -> float:
    """Block until the host measures steady again after a cancelled
    quadratic (r11: the active-jobs drain is a LIAR — a cancelled
    job drops from the tracker while its interrupted codegen loops
    keep burning executor threads for minutes, so every measurement
    after the first budget blow-out in the r11 tool run failed at
    exactly the budget, including ops that pass in isolation).
    Re-runs the vector.norm reference until two consecutive probes
    land under 3x steady; returns the final host factor."""
    from dask_ms_spark.functions import vector as vec

    deadline = time.monotonic() + timeout_s
    good = 0
    hf = 99.0
    while time.monotonic() < deadline:
        t0 = time.monotonic()
        vdf.select(F.xxhash64(vec.norm(F.col("v"))).alias("h")) \
            .agg(F.sum(F.col("h").cast("double"))).collect()
        hf = (time.monotonic() - t0) / NORM_STEADY_S
        good = good + 1 if hf < 3.0 else 0
        if good >= 2:
            return max(1.0, min(hf, 6.0))
        time.sleep(2.0)
    return max(1.0, min(hf, 6.0))


# ------------------------------------------------------------ the runner
def run_with_budget(spark, df, col, budget_s: float = BUDGET_S):
    """Force full evaluation of ``col`` over ``df`` in a cancellable
    job group; returns (completed, elapsed_s, err).  ``xxhash64``
    serialises the whole result value, so every array element is
    computed (``size`` alone would not evaluate elements)."""
    from pyspark import InheritableThread

    # a driver GC fires Spark's ContextCleaner, releasing broadcast/
    # shuffle blocks accumulated by earlier audit jobs — without it a
    # long sweep in one JVM pays rising heap pressure and late ops
    # blow their budgets for reasons unrelated to their own plan
    # (the bench.py discipline)
    jvm_system = getattr(getattr(spark, "_jvm", None), "System", None)
    if jvm_system is not None:
        jvm_system.gc()
    group = f"hof_audit_{time.monotonic_ns()}"
    state: dict = {}

    def work():
        try:
            spark.sparkContext.setJobGroup(group, "hof audit",
                                           interruptOnCancel=True)
            t0 = time.monotonic()
            df.select(F.xxhash64(col).alias("h")) \
                .agg(F.sum(F.col("h").cast("double"))).collect()
            state["t"] = time.monotonic() - t0
        except Exception as e:  # cancelled or failed
            state["err"] = e

    t = InheritableThread(target=work)
    t.daemon = True
    start = time.monotonic()
    t.start()
    t.join(budget_s)
    if t.is_alive():
        spark.sparkContext.cancelJobGroup(group)
        t.join(30.0)
        _drain_cancelled(spark)
        return False, time.monotonic() - start, None
    if "err" in state:
        return False, time.monotonic() - start, state["err"]
    return True, state["t"], None


# ---------------------------------------------------- advisory HOF scan
def nested_hof_report(df, col) -> int:
    """Count HOF invocations nested inside lambdafunction bodies in
    the analyzed plan — ADVISORY (bounded per-element windows are
    legitimate); the wall budget is the enforced gate."""
    plan = df.select(col.alias("r"))._jdf.queryExecution() \
        .analyzed().toString()
    hofs = ("aggregate(", "transform(", "zip_with(", "filter(",
            "exists(", "forall(", "reduce(")
    count = 0
    i = 0
    while True:
        j = plan.find("lambdafunction(", i)
        if j < 0:
            break
        depth, k = 0, j + len("lambdafunction(")
        start = k - 1
        # paren-match the lambdafunction body
        depth = 1
        while k < len(plan) and depth:
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        body = plan[start:k]
        count += sum(body.count(h) for h in hofs)
        i = j + 1
    return count


def main(argv):
    from dask_ms_spark import get_spark
    from dask_ms_spark.cache import release_caches

    spark = get_spark("hof_audit")
    spark.sparkContext.setLogLevel("ERROR")
    vdf = wide_vector_df(spark)
    tdf = wide_text_df(spark)
    fixtures = {"vector": vdf, "text": tdf,
                "ms": wide_ms_df(spark), "emb": wide_emb_df(spark),
                "katvis": wide_katvis_df(spark)}
    hf = host_factor(spark, vdf)
    if hf > 1.05:
        print(f"host contention factor {hf:.2f} — budgets scaled")

    failed = []
    if "--controls" not in argv:
        # completeness first — cheap, structural
        inv = invocations()
        missing = []
        for mod, names in exported_kernels().items():
            for n in names:
                if f"{mod}.{n}" not in inv \
                        and f"{mod}.{n}" not in KERNEL_WHITELIST:
                    missing.append(f"{mod}.{n}")
        ops = df_ops()
        for name in hof_bearing_defs():
            # an invocations() entry also covers a def (dict-of-Column
            # helpers like text.quality_features ride the kernel sweep
            # struct-wrapped)
            if name not in ops and name not in DF_OP_WHITELIST \
                    and name not in inv:
                missing.append(f"df:{name}")
        if missing:
            print("MISSING wide-fixture invocations:", missing)
            return 2
        for name, (kind, thunk) in sorted(inv.items()):
            ok, t, err = run_with_budget(spark, fixtures[kind], thunk(),
                                         BUDGET_S * hf)
            nested = nested_hof_report(fixtures[kind], thunk())
            flag = "" if nested == 0 else f"  [nested-hof x{nested}]"
            if not ok:
                failed.append(name)
                why = f"ERROR {err}" if err else "BUDGET EXCEEDED"
                print(f"{name:40s} {why} after {t:.1f}s{flag}")
                if err is None:
                    # zombie codegen loops from the cancelled job keep
                    # burning threads — settle before the next number
                    hf = settle(spark, vdf)
            else:
                print(f"{name:40s} {t:6.2f}s{flag}")

    if "--controls" not in argv:
        for name, (kind, fn) in sorted(df_ops().items()):
            try:
                out_df = fn(fixtures[kind])
            except Exception as exc:  # noqa: BLE001 — plan-build error
                failed.append(name)
                print(f"df:{name:37s} BUILD ERROR {str(exc)[:120]}")
                continue
            ok, t, err = run_df_with_budget(spark, out_df,
                                            DF_BUDGET_S * hf)
            if not ok:
                failed.append(name)
                why = f"ERROR {err}" if err else "BUDGET EXCEEDED"
                print(f"df:{name:37s} {why} after {t:.1f}s")
                if err is None:
                    hf = settle(spark, vdf)
            else:
                print(f"df:{name:37s} {t:6.2f}s")

    print("\nnegative controls (must exceed the budget):")
    for name, thunk in NEGATIVE_CONTROLS.items():
        ok, t, err = run_with_budget(spark, vdf, thunk(),
                                     BUDGET_S * hf)
        if ok:
            failed.append(name)
            print(f"{name:40s} COMPLETED in {t:.1f}s — harness cannot "
                  "separate bound from unbound at this shape!")
        else:
            print(f"{name:40s} cancelled at {t:.1f}s as expected")

    for name, fn in DF_NEGATIVE_CONTROLS.items():
        ok, t, err = run_df_with_budget(spark, fn(tdf),
                                        DF_BUDGET_S * 0.6 * hf)
        if ok:
            failed.append(name)
            print(f"{name:40s} COMPLETED in {t:.1f}s — df harness "
                  "cannot separate the classes at this shape!")
        else:
            print(f"{name:40s} cancelled at {t:.1f}s as expected")

    release_caches()
    if failed:
        print("\nFAILED:", failed)
        return 1
    print("\nall kernels within budget; controls separated")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

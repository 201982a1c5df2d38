"""Vector math over ``array<float>`` embedding columns — UDF-free.

Built from ``aggregate`` / ``zip_with`` higher-order functions so the
hot path stays JVM-side (no Python serialisation).  These are the
primitives for similarity search and embedding dedup (BASELINE.json
north star; no reference analogue — dask-ms delegates array math to
user numpy code, SURVEY §2.7).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["dot", "norm", "cosine", "l2_distance", "normalize",
           "masked_bin_average", "weighted_bin_average", "log_log_fit",
           "channel_regrid", "spectral_moments", "masked_bin_average_dyn",
           "hanning_smooth", "uvcontsub", "prefix_sum"]


def _bind_once(fn, **exprs: Column) -> Column:
    """Evaluate ``exprs`` ONCE per row, then build ``fn`` over the
    bound values.  Higher-order-function lambdas re-evaluate inline
    sub-expressions per ELEMENT (Catalyst subexpression elimination
    does not reach inside lambda scopes), so a kernel that slices or
    folds an expression input n times costs n re-evaluations of that
    expression — O(n^2) for transform-typed inputs.  Binding through
    a 1-element array-of-struct caps every input at one evaluation
    (measured 233x on spectral_moments at 2048 channels, review r9).
    """
    bound = F.array(F.struct(*[e.alias(k) for k, e in exprs.items()]))
    return F.element_at(
        F.transform(bound, lambda p: fn(**{k: p[k] for k in exprs})), 1)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length float arrays."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null-safe on zero vectors (returns 0)."""
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def l2_distance(a: Column, b: Column) -> Column:
    return F.sqrt(F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                              F.lit(0.0), lambda acc, x: acc + x))


def normalize(a: Column) -> Column:
    """Unit-normalise (zero vectors pass through).

    The norm is bound as a SCALAR alongside the input: referencing
    ``norm(a)`` inside the transform lambda re-evaluates the O(n)
    fold per element — O(n^2), 40x at 4096 elements — and binding
    only ``a`` does not help because the fold is then rebuilt from
    the bound input inside the lambda scope (round-10 audit; the
    derived-scalar sibling of the r9 input-binding class)."""
    def run(a, n):
        return F.when(n > 0, F.transform(a, lambda x: x / n)) \
            .otherwise(a)

    return _bind_once(run, a=a, n=norm(a))


def masked_bin_average(vec: Column, mask: Column,
                       bin_size: int) -> Column:
    """Flag-aware bin (channel) averaging of a tensor column: average
    each consecutive run of ``bin_size`` elements over the elements
    whose ``mask`` entry is true; a bin with no unmasked element
    yields NULL.  Output length = ceil(len/bin_size).

    This is the MS channel-averaging shape (reference users run it in
    numpy per chunk; here it is a pure Catalyst higher-order-function
    expression, so it composes into the scan with no Python
    exchange): DATA-style columns average only unflagged samples, and
    the same expression with a time-window grouping upstream is
    time-and-channel averaging.  For interleaved complex columns
    (types.complex_array_type) apply it to the re/im planes
    separately — the mean of a complex sample set is the pair of
    plane means.

    Determinism: per-bin sums are left-to-right ``aggregate`` folds
    over the array order, so results are engine-portable (the DuckDB
    oracle mirrors the same fold).
    """
    if bin_size < 1:
        raise ValueError(f"bin_size must be >= 1, got {bin_size}")

    # inputs bind once (review r9): expression-typed vec/mask would
    # otherwise re-evaluate inside every bin's slice
    def run(v, m):
        nbins = F.ceil(F.size(v) / F.lit(bin_size)).cast("int")
        return _masked_bin_means(v, m, nbins, bin_size)

    return _bind_once(run, v=vec, m=mask)


def _masked_bin_means(v: Column, m: Column, nbins: Column,
                      bin_size: int | Column) -> Column:
    """The bin fold of :func:`masked_bin_average`: ``nbins`` bins of
    ``bin_size`` elements (an int or a per-row Column), each the
    left-to-right mean of its elements whose mask is true."""
    def bin_avg(b):
        start = b * bin_size + 1      # slice() is 1-based
        vals = F.slice(v, start, bin_size)
        kept = F.zip_with(vals, F.slice(m, start, bin_size),
                          lambda x, mm: F.when(mm, x)
                          .otherwise(F.lit(None)))
        s = F.aggregate(kept, F.lit(0.0),
                        lambda acc, x: acc
                        + F.coalesce(x, F.lit(0.0)))
        n = F.aggregate(kept, F.lit(0),
                        lambda acc, x: acc
                        + F.when(x.isNotNull(), 1).otherwise(0))
        return F.when(n > 0, s / n).otherwise(F.lit(None))
    return F.transform(F.sequence(F.lit(0), nbins - 1),
                       lambda b: bin_avg(b))


def weighted_bin_average(vec: Column, weights: Column,
                         bin_size: int) -> Column:
    """Weight-aware variant of :func:`masked_bin_average`: per-bin
    sum(w*v)/sum(w) over ``bin_size`` runs; zero total weight yields
    NULL.  The WEIGHT_SPECTRUM-style reduction."""
    if bin_size < 1:
        raise ValueError(f"bin_size must be >= 1, got {bin_size}")

    def run(v, w):
        nbins = F.ceil(F.size(v) / F.lit(bin_size)).cast("int")

        def bin_avg(b):
            start = b * bin_size + 1
            vals = F.slice(v, start, bin_size)
            ws = F.slice(w, start, bin_size)
            wv = F.zip_with(vals, ws, lambda x, ww: x * ww)
            s = F.aggregate(wv, F.lit(0.0), lambda acc, x: acc + x)
            tw = F.aggregate(ws, F.lit(0.0), lambda acc, x: acc + x)
            return F.when(tw > 0, s / tw).otherwise(F.lit(None))
        return F.transform(F.sequence(F.lit(0), nbins - 1),
                           lambda b: bin_avg(b))

    return _bind_once(run, v=vec, w=weights)


def _ls_sums(kept: Column) -> tuple[Column, Column, Column, Column]:
    """(Σx, Σy, Σx², Σxy) over an array of (x, y) structs, each a
    left-to-right ``aggregate`` fold (engine-portable order)."""
    return (F.aggregate(kept, F.lit(0.0), lambda a, p: a + p["x"]),
            F.aggregate(kept, F.lit(0.0), lambda a, p: a + p["y"]),
            F.aggregate(kept, F.lit(0.0),
                        lambda a, p: a + p["x"] * p["x"]),
            F.aggregate(kept, F.lit(0.0),
                        lambda a, p: a + p["x"] * p["y"]))


def log_log_fit(vec: Column, xs: list[float],
                xs_are_logs: bool = False) -> Column:
    """Per-row log-log least-squares fit of an array column against
    fixed abscissae — the spectral-index estimator (flux ~ freq^alpha
    => ln v = alpha * ln x + c) and any other per-cell power-law fit,
    as ONE codegen'd expression: no explode, no shuffle, no Python.

    ``xs`` are driver-side constants (channel frequencies), so their
    log moments fold to literals; only the y-side sums run per row,
    as left-to-right ``aggregate`` folds (engine-portable order).
    Elements <= 0 are excluded from the fit (log undefined) — the
    flagged-channel analogue; rows with fewer than 2 usable elements
    yield NULL.  ``xs_are_logs=True`` takes pre-computed (e.g.
    dyadic-quantised, for cross-engine literal parity) log-abscissae
    verbatim.  Returns ``struct(alpha, intercept, n_used)``.
    """
    import math

    if len(xs) < 2:
        raise ValueError("log_log_fit needs at least 2 abscissae")
    lx = ([float(x) for x in xs] if xs_are_logs
          else [math.log(float(x)) for x in xs])
    lx_arr = F.array(*[F.lit(v) for v in lx])
    pair = F.zip_with(vec, lx_arr,
                      lambda v, x: F.when(v > 0, F.struct(
                          F.log(v).alias("y"), x.alias("x")))
                      .otherwise(F.lit(None)))

    # the kept-pairs filter binds once (review r9): inlined, it would
    # re-evaluate for each of the five fold sums below
    def run(kept):
        n = F.size(kept)
        sx, sy, sxx, sxy = _ls_sums(kept)
        denom = n * sxx - sx * sx
        alpha = F.when((n >= 2) & (denom != 0),
                       (n * sxy - sx * sy) / denom)
        intercept = F.when((n >= 2) & (denom != 0),
                           (sy - alpha * sx) / n)
        return F.struct(alpha.alias("alpha"),
                        intercept.alias("intercept"),
                        n.cast("long").alias("n_used"))

    return _bind_once(run, kept=F.filter(pair, lambda p: p.isNotNull()))


def channel_regrid(vec: Column, shift: Column, n_out: int) -> Column:
    """Resample a spectrum onto a shifted channel grid by linear
    interpolation: ``out[i] = lerp(vec, i + shift)`` for a (possibly
    fractional, per-row) ``shift`` — the Doppler/velocity-frame
    regridding kernel (each row's spectrum moves by its own topo->bary
    offset).  Output channels that fall outside the input grid are
    NULL, not extrapolated.

    Pure Catalyst higher-order functions: zero Python, zero shuffle —
    at 100 TB this is a map over the scan.  The reference's analogue
    is per-chunk numpy interp in user code (SURVEY §2.7).
    """
    def run(src):
        pos = F.transform(
            F.sequence(F.lit(0), F.lit(n_out - 1)),
            lambda i: i.cast("double") + shift.cast("double"))
        n_in = F.size(src)

        def lerp(p):
            lo = F.floor(p).cast("int")
            frac = p - lo.cast("double")
            vlo = F.element_at(src, lo + 1)
            vhi = F.element_at(src, F.least(lo + F.lit(2), n_in))
            inside = (p >= 0) & (p <= (n_in - 1).cast("double"))
            return F.when(inside,
                          (F.lit(1.0) - frac) * vlo + frac * vhi)

        return F.transform(pos, lerp)

    return _bind_once(run,
                      src=F.transform(vec, lambda x: x.cast("double")))


def spectral_moments(vec: Column, mask: Column | None = None) -> Column:
    """Per-row spectral moments over channel index x = 0..n-1:
    ``mom0 = sum(v)``, ``mom1 = sum(v*x)/mom0`` (intensity-weighted
    mean channel), ``mom2 = sqrt(sum(v*(x-mom1)^2)/mom0)`` (dispersion)
    — the spectral-line analysis triple, masked cells excluded.

    Returns a struct (mom0, mom1, mom2); mom1/mom2 are NULL when the
    weight sum is <= 0 (moments of non-positive total flux are
    undefined).  Map-side folds only — no explode, no shuffle.
    """
    vexpr = (F.zip_with(vec, mask,
                        lambda x, m: F.when(m, x.cast("double")))
             if mask is not None
             else F.transform(vec, lambda x: x.cast("double")))

    def fsum(arr):
        return F.aggregate(arr, F.lit(0.0),
                           lambda a, x: a + F.coalesce(x, F.lit(0.0)))

    # two-level bind (review r9): the masked input evaluates once,
    # and (mom0, mom1) bind before the second-moment fold —
    # referencing mom1 inside the sxx lambda would re-expand its two
    # fold sums per ELEMENT (O(n^2) per row; measured 233x at 2048
    # channels)
    def run(v):
        idx = F.sequence(F.lit(0), F.size(v) - 1)
        mom0 = fsum(v)
        sx = fsum(F.zip_with(v, idx,
                             lambda x, i: x * i.cast("double")))
        mom1 = F.when(mom0 > 0, sx / mom0)
        params = F.array(F.struct(mom0.alias("m0"), mom1.alias("m1")))

        def final(p):
            sxx = fsum(F.zip_with(
                v, idx,
                lambda x, i: x * (i.cast("double") - p["m1"])
                * (i.cast("double") - p["m1"])))
            return F.struct(
                p["m0"].alias("mom0"), p["m1"].alias("mom1"),
                F.when(p["m0"] > 0, F.sqrt(sxx / p["m0"]))
                .alias("mom2"))

        return F.element_at(F.transform(params, final), 1)

    return _bind_once(run, v=vexpr)


def masked_bin_average_dyn(vec: Column, mask: Column,
                           bin_size: Column) -> Column:
    """:func:`masked_bin_average` with a PER-ROW bin size (a Column):
    the joint time+channel BDA shape, where a short baseline's rows
    average more channels than a long baseline's.  Same fold
    semantics: per-bin mean over unmasked elements, empty bins NULL,
    output length ``ceil(len / bin_size)`` (per row — compose with a
    rectangular-per-group partitioning before cross-row reductions).
    """
    bs = bin_size.cast("int")
    guarded = F.when(bs >= 1, bs).otherwise(F.raise_error(F.lit(
        "masked_bin_average_dyn: bin_size must be >= 1")))

    def run(v, m):
        nbins = F.ceil(F.size(v) / guarded.cast("double")).cast("int")
        return _masked_bin_means(v, m, nbins, guarded)

    return _bind_once(run, v=vec, m=mask)


def hanning_smooth(vec: Column) -> Column:
    """Hanning channel smoothing: ``out[i] = 0.25*v[i-1] + 0.5*v[i]
    + 0.25*v[i+1]`` with edge channels averaging over the available
    neighbours (weights renormalised) — the standard MS spectral
    smoothing pass against Gibbs ringing, as a pure map over the
    scan.  NULL (flagged) cells stay NULL and are excluded from their
    neighbours' averages (weights renormalise over present cells).
    """
    def run(v):
        n = F.size(v)

        def cell(i):
            c = F.element_at(v, i + 1)
            lo = F.when(i > 0, F.element_at(v, i))
            hi = F.when(i < n - 1, F.element_at(v, i + 2))
            wsum = (F.when(c.isNotNull(), F.lit(0.5))
                    .otherwise(F.lit(0.0))
                    + F.when(lo.isNotNull(), F.lit(0.25))
                    .otherwise(F.lit(0.0))
                    + F.when(hi.isNotNull(), F.lit(0.25))
                    .otherwise(F.lit(0.0)))
            s = (F.coalesce(c, F.lit(0.0)) * 0.5
                 + F.coalesce(lo, F.lit(0.0)) * 0.25
                 + F.coalesce(hi, F.lit(0.0)) * 0.25)
            return F.when(c.isNotNull(), s / wsum)

        return F.transform(F.sequence(F.lit(0), n - 1), cell)

    return _bind_once(run, v=vec)


def uvcontsub(vec: Column, mask: Column | None = None) -> Column:
    """Continuum subtraction (the `uvlin` pass): per row, fit a
    straight line over channel index to the unmasked cells and
    subtract it — what remains is the line signal.  Fit sums are
    left-to-right folds (engine-portable); masked cells pass through
    as NULL; rows with fewer than 2 unmasked cells return the input
    unchanged (nothing to fit).  Zero shuffles — composes into the
    scan like every kernel in this module.
    """
    vexpr = (F.zip_with(vec, mask,
                        lambda x, m: F.when(m, x.cast("double")))
             if mask is not None
             else F.transform(vec, lambda x: x.cast("double")))
    pair = F.zip_with(vexpr, F.sequence(F.lit(0), F.size(vexpr) - 1),
                      lambda x, i: F.when(x.isNotNull(), F.struct(
                          x.alias("y"), i.cast("double").alias("x"))))

    # two-level bind (review r9): the masked input and the kept-pairs
    # filter each evaluate ONCE (the folds below would otherwise
    # re-run the filter chain per sum), then the fit binds once
    # before the per-channel subtraction — without that, every output
    # channel re-expands the four fold sums inside slope/icept (a 64x
    # blow-up measured at ~20 s on 500 rows when first found)
    def run(v, kept):
        idx = F.sequence(F.lit(0), F.size(v) - 1)
        n = F.size(kept).cast("double")
        sx, sy, sxx, sxy = _ls_sums(kept)
        denom = n * sxx - sx * sx
        slope = F.when(denom != 0, (n * sxy - sx * sy) / denom) \
            .otherwise(F.lit(0.0))
        icept = F.when(n > 0, (sy - slope * sx) / n) \
            .otherwise(F.lit(0.0))
        fit_ok = F.size(kept) >= 2
        params = F.array(F.struct(slope.alias("sl"),
                                  icept.alias("ic"),
                                  fit_ok.alias("ok")))
        return F.element_at(F.transform(params, lambda prm: F.zip_with(
            v, idx,
            lambda x, i: F.when(
                prm["ok"] & x.isNotNull(),
                x - (prm["ic"] + prm["sl"] * i.cast("double")))
            .otherwise(x))), 1)

    return _bind_once(run, v=vexpr,
                      kept=F.filter(pair, lambda p: p.isNotNull()))


def prefix_sum(a: Column, max_width: int = 1 << 14) -> Column:
    """Inclusive prefix sum of a double array — the parallel-scan
    primitive Spark SQL lacks (cumulative flags/corrections over a
    channel axis; the reference reaches for ``numpy.cumsum`` on the
    same chunks).

    Hillis–Steele doubling: ``ceil(log2(max_width))`` passes, each a
    ``zip_with`` of the running array with a copy of itself shifted
    right by ``2^p`` (shift = take the first n elements of
    ``zeros ++ arr``).  Every pass binds the previous array ONCE via
    the 1-element-struct trick, so per-row work is O(n log
    max_width) with a plan tree LINEAR in the pass count — the naive
    fold-and-concat spelling is O(n^2) in array copies (measured
    3.2x wall from 4k to 8k elements on unwrap_phases before this
    landed).

    ``max_width`` bounds the widest array the scan is exact for
    (passes are static in the plan); arrays longer than ``max_width``
    raise at runtime rather than returning a silently partial sum.
    Empty arrays return empty; a NULL array returns NULL; NULL
    elements poison every later prefix (standard double + NULL).
    """
    import math

    if max_width < 1:
        raise ValueError(f"prefix_sum: max_width must be >= 1, "
                         f"got {max_width}")
    passes = max(1, math.ceil(math.log2(max_width)))

    def one_pass(shift):
        def run(k):
            n = F.size(k)
            zeros = F.array_repeat(
                F.lit(0.0), F.least(F.lit(shift), n).cast("int"))
            shifted = F.slice(F.concat(zeros, k), 1, n)
            return F.zip_with(k, shifted, lambda x, y: x + y)
        return run

    cur = F.transform(a, lambda x: x.cast("double"))
    for p in range(passes):
        cur = _bind_once(one_pass(1 << p), k=cur)
    # raise only on a PROVEN overflow: a NULL array's size is NULL,
    # which must fall through to the NULL-propagating scan result
    return F.when(
        F.size(a) > max_width,
        F.raise_error(F.lit(
            f"prefix_sum: array wider than max_width={max_width}; "
            "raise max_width (cost is one zip_with pass per "
            "doubling)")).cast("array<double>")).otherwise(cur)

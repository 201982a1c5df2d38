"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns plus typed metadata — the same
discipline the reference applies to tensor columns (opaque payload +
schema metadata, SURVEY §1.2).  The Spark-side plumbing (schema,
batching, partitioning, Arrow transfer through ``mapInPandas``) is real
and tested; the actual codecs (PIL/ffmpeg/librosa) are NOT in this
container, so the decode kernels are import-gated with deterministic
fakes clearly marked below — swap ``_decode_image_stub`` for a real
decoder in production.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType)

__all__ = ["MEDIA_SCHEMA", "media_table", "binary_features",
           "decode_image_features", "resize_images", "sample_video_frames",
           "audio_features", "image_dhash", "image_neardup_pairs"]

# Canonical multimodal column group: payload + typed metadata.
MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),       # image|audio|video
    StructField("mime", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_frames", IntegerType(), True),
    StructField("payload", BinaryType(), True),
])

try:  # pragma: no cover - codec libs absent in this container
    from PIL import Image  # type: ignore

    HAVE_PIL = True
except Exception:  # pragma: no cover
    Image = None
    HAVE_PIL = False


def media_table(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Derive a deterministic fake media table from any table — the
    payload is the utf-8 text bytes.  Stands in for real ingested media
    so the downstream plumbing is exercised end-to-end."""
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/x-fake").alias("mime"),
        (F.length(text_col) % 64 + 1).cast("int").alias("width"),
        (F.length(text_col) % 48 + 1).cast("int").alias("height"),
        F.lit(1).alias("n_frames"),
        F.col(text_col).cast("binary").alias("payload"))


def _decode_image_stub(payload: bytes, width: int, height: int) -> np.ndarray:
    """Image decode kernel: REAL PIL decode when the library is
    importable and the payload is an actual image container; a
    DETERMINISTIC FAKE otherwise.

    The fallback matters for oracle stability: the synthetic media
    corpus (``media_table``) carries text bytes as payloads, which no
    codec can open — so PIL's presence must not change what those
    payloads decode to.  Only a payload that PIL genuinely parses
    (PNG/JPEG/... magic + valid stream) takes the real path; anything
    else gets the same payload-seeded uint8 gradient with or without
    PIL installed.  The gated pytest
    (tests/test_llm.py::test_decode_real_image_parity) proves the
    real path against numpy ground truth when PIL exists and is
    skipped otherwise.
    """
    if HAVE_PIL:  # pragma: no cover - PIL absent in this container
        import io

        try:
            return np.asarray(Image.open(io.BytesIO(payload)))
        except Exception:
            pass  # not a decodable container: deterministic fake
    seed = int.from_bytes(bytes(payload[:8] or b"\0"), "big", signed=False)
    base = np.arange(height * width, dtype=np.uint64) + seed
    return (base % 251).astype(np.uint8).reshape(height, width)


_BINARY_FEATURE_SCHEMA = ("media_id long, n_bytes long, hash64 long, "
                          "magic_hex string, first_byte int, "
                          "last_byte int, width int, height int")


def binary_features(media: DataFrame) -> DataFrame:
    """Codec-free, fully deterministic byte-level media features.

    Unlike :func:`decode_image_features` (whose decode kernel is
    stubbed when codec libs are absent), every column here is a pure
    function of the payload *bytes* — content length, a 64-bit md5
    prefix digest (the repo's ``portable_hash64`` convention), the
    magic-bytes format tag (first 4 bytes, uppercase hex — how real
    ingest sniffs PNG/JPEG/RIFF containers), boundary bytes, and the
    header-carried dimensions.  That makes the whole ``mapInPandas``
    Arrow exchange externally verifiable: a SQL engine can mirror each
    column from the same binary payload, so the correctness oracle
    checks the Python kernel path end-to-end rather than rows-only.

    Scale shape: payload bytes cross the language boundary exactly
    once per Arrow batch; output is a narrow fixed-width frame, so
    executor memory stays flat on mixed-size corpora.
    """
    import hashlib

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                b = bytes(row.payload or b"")
                digest = hashlib.md5(b).hexdigest()
                out.append((row.media_id, len(b), int(digest[:15], 16),
                            b[:4].hex().upper(),
                            b[0] if b else None,
                            b[-1] if b else None,
                            row.width, row.height))
            yield pd.DataFrame(out, columns=[
                "media_id", "n_bytes", "hash64", "magic_hex",
                "first_byte", "last_byte", "width", "height"])

    return (media.select("media_id", "width", "height", "payload")
                 .mapInPandas(compute, schema=_BINARY_FEATURE_SCHEMA))


def _map_images(batches: Iterator[pd.DataFrame], fn,
                columns: list[str]) -> Iterator[pd.DataFrame]:
    """The image kernels' row loop: per Arrow batch, one output row
    ``fn(media_id, px)`` per input row, ``px`` its payload decoded at
    the metadata size (a missing width or height reads as 1)."""
    for pdf in batches:
        yield pd.DataFrame(
            [fn(row.media_id,
                _decode_image_stub(row.payload or b"", int(row.width or 1),
                                   int(row.height or 1)))
             for row in pdf.itertuples(index=False)], columns=columns)


_FEATURE_SCHEMA = ("media_id long, mean_px double, std_px double, "
                   "n_px long")


def decode_image_features(media: DataFrame) -> DataFrame:
    """Decode payloads and emit per-image pixel statistics.

    ``mapInPandas`` streams Arrow batches into Python once, decodes,
    and emits a narrow feature frame — the canonical shape for any
    Python-side media kernel: payload bytes cross the language boundary
    exactly once, outputs are small fixed-width columns.
    """

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _map_images(
            batches, lambda mid, px: (mid, float(px.mean()),
                                      float(px.std()), int(px.size)),
            ["media_id", "mean_px", "std_px", "n_px"])

    return (media.select("media_id", "width", "height", "payload")
                 .mapInPandas(compute, schema=_FEATURE_SCHEMA))


_RESIZE_SCHEMA = ("media_id long, width int, height int, "
                  "payload binary")


def resize_images(media: DataFrame, out_width: int = 32,
                  out_height: int = 32) -> DataFrame:
    """Resize every image to a fixed (out_height, out_width) raster.

    Only the initial decode is the stubbed step; the resample itself is
    real — nearest-neighbour index mapping in vectorised numpy — and
    the output payload is the raw uint8 raster with updated metadata.
    Same single-crossing discipline as ``decode_image_features``:
    payloads enter Python once per Arrow batch, and the output rows are
    bounded (out_width × out_height bytes) regardless of input size —
    the property that keeps executor memory flat on mixed-size corpora.
    """

    def resize(media_id, px):
        # index with the DECODED raster's own shape, not the metadata
        # dims: a real PIL decode whose size disagrees with the
        # metadata would otherwise IndexError (image_dhash does too)
        ys = (np.arange(out_height) * px.shape[0]) // out_height
        xs = (np.arange(out_width) * px.shape[1]) // out_width
        return (media_id, out_width, out_height,
                px[np.ix_(ys, xs)].tobytes())

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _map_images(batches, resize,
                           ["media_id", "width", "height", "payload"])

    return (media.where(F.col("kind") == "image")
                 .select("media_id", "width", "height", "payload")
                 .mapInPandas(compute, schema=_RESIZE_SCHEMA))


def sample_video_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing: one output row per kept frame index.

    Frame decoding itself is the stubbed step; the index arithmetic,
    explode shape and partition behaviour are the real scale concerns.
    """
    frames = F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)),
                        F.lit(every_n))
    return (media.where(F.col("kind") == "video")
                 .select("media_id",
                         F.explode(frames).alias("frame_index")))


_AUDIO_FEATURE_SCHEMA = ("media_id long, n_samples long, rms double, "
                         "peak int, zero_crossings long, dc_offset double")


def audio_features(media: DataFrame,
                   payload_col: str = "payload") -> DataFrame:
    """Waveform summary features over a binary payload interpreted as
    signed 8-bit PCM — the audio leg of the multimodal surface.

    Like :func:`binary_features`, every column is a pure function of
    the payload bytes (no codec): sample count, RMS level, peak
    absolute amplitude, zero-crossing count (the classic
    voiced/unvoiced + noisiness signal), and DC offset.  A real
    pipeline swaps the ``frombuffer`` line for an actual decoder; the
    numpy kernel, Arrow batching, and schema contract stay identical.

    RMS/DC are emitted rounded to 6 dp via the integer-unit half-up
    form ``floor(x * 1e6 + 0.5) / 1e6`` — python's ``round`` is
    banker's on the double expansion and disagrees with SQL round at
    exact decimal ties (caught by the sf0.1 oracle sweep: CJK
    payloads produce .xxxxxx5 DC offsets); the floor form is the same
    IEEE expression in every engine.  Both ratios come from exact
    integer sums (int64 accumulation — overflow-safe to ~2^46
    samples), so the mirrored arithmetic agrees bit-for-bit.
    """
    import math

    def r6(v: float) -> float:
        return math.floor(v * 1e6 + 0.5) / 1e6

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                b = bytes(getattr(row, payload_col) or b"")
                s = np.frombuffer(b, dtype=np.int8).astype(np.int64)
                n = len(s)
                if n == 0:
                    out.append((row.media_id, 0, None, None, 0, None))
                    continue
                rms = r6(float(np.sqrt(float((s * s).sum()) / n)))
                dc = r6(float(s.sum()) / n)
                nz = s[s != 0]
                zc = int((np.signbit(nz[1:]) !=
                          np.signbit(nz[:-1])).sum()) if len(nz) else 0
                out.append((row.media_id, n, rms,
                            int(np.abs(s).max()), zc, dc))
            yield pd.DataFrame(out, columns=[
                "media_id", "n_samples", "rms", "peak",
                "zero_crossings", "dc_offset"])

    return (media.select("media_id", F.col(payload_col).alias("payload"))
                 .mapInPandas(compute, schema=_AUDIO_FEATURE_SCHEMA))


def image_dhash(media: DataFrame, rows: int = 7, cols: int = 9) -> DataFrame:
    """Perceptual difference hash (dHash) per image: decode, sample a
    ``rows x (cols+1)`` luminance grid (nearest-neighbour — the
    integer index map ``y = (r*h)//rows``, reproducible in any
    engine), then one bit per horizontally adjacent pair
    (``grid[r,c] < grid[r,c+1]``).  Visually similar images differ in
    few bits, so near-duplicate detection becomes small-Hamming-
    distance search over a 63-bit integer — the image-side analogue
    of :func:`~dask_ms_spark.llm.dedup.with_simhash`.

    ``rows * cols`` must be <= 63 so the hash fits a signed bigint
    without touching the sign bit (default 7x9 = exactly 63).  The
    decode step is the import-gated kernel shared with
    :func:`decode_image_features` (real PIL when present, the
    deterministic payload-seeded fake otherwise); everything after
    decode is exact integer arithmetic, so the hash is engine-
    mirrorable for stub payloads.

    Scale shape: payloads cross into Python once per Arrow batch and
    the output is (media_id, dhash) — 16 bytes/row; all downstream
    dedup stages shuffle hashes, never pixels.
    """
    if rows < 1 or cols < 1 or rows * cols > 63:
        raise ValueError(f"image_dhash: rows*cols must be in [1, 63] "
                         f"to fit a signed bigint, got {rows}x{cols}")

    def dhash(media_id, px):
        if px.ndim == 3:  # RGB(A) from a real decode
            px = px[..., :3].mean(axis=2)
        ys = (np.arange(rows) * px.shape[0]) // rows
        xs = (np.arange(cols + 1) * px.shape[1]) // (cols + 1)
        grid = px[np.ix_(ys, xs)].astype(np.int64)
        bits = (grid[:, :-1] < grid[:, 1:]).astype(np.int64)
        weights = (np.int64(1)
                   << np.arange(rows * cols, dtype=np.int64))
        return (media_id, int((bits.reshape(-1) * weights).sum()))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _map_images(batches, dhash, ["media_id", "dhash"])

    return (media.select("media_id", "width", "height", "payload")
                 .mapInPandas(compute, schema="media_id long, dhash long"))


def image_neardup_pairs(media: DataFrame, max_hamming: int = 6,
                        rows: int = 7, cols: int = 9) -> DataFrame:
    """Near-duplicate image pairs: dHash + Hamming-band LSH join with
    PROVABLY exact recall.

    The 63-bit hash splits into ``max_hamming + 1`` bands; by
    pigeonhole, any pair within ``max_hamming`` differing bits agrees
    exactly on at least one band, so the band-bucket equi-join loses
    nothing — unlike probabilistic MinHash banding, this candidate
    set is a superset of the answer by construction.  Survivors are
    verified with ``bit_count(a XOR b) <= max_hamming`` JVM-side.

    A pair agreeing on several bands would surface once per band; the
    duplicate-elimination is a *predicate*, not a distinct stage: the
    pair is kept only where the joined band index equals the FIRST
    agreeing band (computable from the two hashes in hand), so no
    extra exchange is spent deduplicating candidates — the
    ``interval_overlap_join`` canonical-first-bucket discipline.

    Scale: only (media_id, dhash) shuffles; band buckets bound the
    join the way LSH bucket caps bound the text family.  Skewed
    buckets (e.g. flat-image hash 0) are subject to the same
    ``max_bucket_size`` mitigation if a corpus needs it.
    """
    nbits = rows * cols
    nbands = max_hamming + 1
    if nbands > nbits:
        raise ValueError("image_neardup_pairs: max_hamming + 1 bands "
                         f"need <= {nbits} bits, got {max_hamming}")
    base = nbits // nbands          # band j gets base (+1 for the
    extra = nbits % nbands          # first `extra` bands) bits
    starts, widths = [], []
    s = 0
    for j in range(nbands):
        w = base + (1 if j < extra else 0)
        starts.append(s)
        widths.append(w)
        s += w

    sigs = image_dhash(media, rows, cols)

    def band_val(col, j):
        mask = F.lit((1 << widths[j]) - 1).cast("long")
        return F.shiftright(col, starts[j]).bitwiseAND(mask)

    bands = sigs.select(
        F.col("media_id").alias("id"), F.col("dhash").alias("h"),
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("band"),
                     band_val(F.col("dhash"), j).alias("val"))
            for j in range(nbands)])).alias("b")
    ).select("id", "h", F.col("b.band").alias("band"),
             F.col("b.val").alias("val"))

    a, b = bands.alias("a"), bands.alias("b")
    joined = a.join(b, on=[F.col("a.band") == F.col("b.band"),
                           F.col("a.val") == F.col("b.val"),
                           F.col("a.id") < F.col("b.id")])
    x = F.col("a.h").bitwiseXOR(F.col("b.h"))
    # first band where the two hashes agree (xor band == 0)
    first = F.lit(nbands)
    for j in range(nbands - 1, -1, -1):
        first = F.when(band_val(x, j) == 0, F.lit(j)).otherwise(first)
    return (joined.where((F.bit_count(x) <= max_hamming)
                         & (F.col("a.band") == first))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.bit_count(x).cast("int").alias("hamming")))

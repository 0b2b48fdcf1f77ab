"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns with a typed metadata struct; the
Spark-side machinery here — schemas, Arrow batch shapes, ``mapInPandas``
signatures, partition-size guidance — is real and tested. The actual codec
work (JPEG decode, resampling, frame extraction) requires image/audio
libraries that are NOT installed in this container, so each codec call is
stubbed behind ``_require_codec`` with a deterministic fake used by tests
(`fake=True`), clearly marked.

Design for 100 TB of media: binaries stay in parquet/iceberg as pages of a
``binary`` column; decode happens inside ``mapInPandas`` so bytes never hit
the driver, and ``spark.sql.files.maxPartitionBytes`` (not row count)
controls batch memory. Feature vectors come back as ``array<float>``
columns that feed the similarity/dedup operators above.
"""

from __future__ import annotations

import hashlib
import zlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partitioning import pin

MEDIA_META_SCHEMA = (
    "doc_id long, media_type string, byte_len long, crc32 long, sha256 string"
)
IMAGE_FEATURES_SCHEMA = "doc_id long, width int, height int, features array<float>"


def attach_media_metadata(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """Typed metadata for an opaque binary column — pure JVM expressions
    (length/crc/hash), no decode needed. This is the cheap scan-side pass a
    pipeline runs first to route/filter media."""
    b = F.col(binary_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.lit("application/octet-stream").alias("media_type"),
        F.length(b).cast("long").alias("byte_len"),
        F.crc32(b).alias("crc32"),
        F.sha2(b, 256).alias("sha256"),
    )


def _require_codec(kind: str):
    """Decoding beyond the pure-stdlib formats (PNG images, PCM WAV audio —
    see :mod:`.codecs`) is stubbed in this container — documented contract:
    plug Pillow / torchaudio / PyAV here."""
    raise NotImplementedError(
        f"{kind} decoding beyond PNG/WAV requires media libraries "
        "(Pillow/torchaudio/av) that are not installed in this container; "
        "PNG and 16-bit PCM WAV decode for real via the stdlib codecs; "
        "pass fake=True for the deterministic stub used in tests"
    )


def _fake_decode_image(data: bytes, feat_dim: int) -> tuple[int, int, np.ndarray]:
    """Deterministic stand-in: dimensions and features derived from content
    hashes, so tests exercise real distribution/schema behavior."""
    digest = hashlib.sha256(data).digest()
    width = 64 + digest[0] % 64
    height = 64 + digest[1] % 64
    seed = int.from_bytes(digest[2:10], "big") % (2**32)
    rng = np.random.RandomState(seed)
    return width, height, rng.standard_normal(feat_dim).astype(np.float32)


def _real_image_features(arr: "np.ndarray", feat_dim: int) -> "np.ndarray":
    """Deterministic pixel-stat feature vector from a decoded image:
    ``[mean, std, min, max]`` then luminance-histogram bins, padded with
    zeros to ``feat_dim`` — enough to drive the similarity/dedup operators
    downstream with REAL content-derived vectors."""
    flat = arr.astype(np.float64).ravel()
    stats = [flat.mean(), flat.std(), flat.min(), flat.max()]
    n_bins = max(0, feat_dim - 4)
    if n_bins:
        hist, _ = np.histogram(flat, bins=n_bins, range=(0.0, 256.0))
        stats.extend(hist / max(1, flat.size))
    return np.asarray(stats[:feat_dim], dtype=np.float32)


def extract_image_features(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    feat_dim: int = 16,
    batch_size: int = 64,
    fake: bool = False,
) -> DataFrame:
    """Decode images and emit (width, height, feature-vector) rows via
    ``mapInPandas``. PNG decodes FOR REAL (pure-stdlib inflate + defilter,
    :func:`.codecs.decode_png`) with content-derived pixel-stat features;
    other formats need Pillow and raise behind ``_require_codec`` (or use
    the deterministic ``fake=True`` stub in tests)."""
    from .codecs import decode_png, is_png

    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("data"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start : start + batch_size]
                rows = {"doc_id": [], "width": [], "height": [], "features": []}
                for doc_id, data in zip(chunk["doc_id"], chunk["data"]):
                    data = bytes(data)
                    if fake:
                        w, h, feats = _fake_decode_image(data, feat_dim)
                    elif is_png(data):
                        arr = decode_png(data)
                        h, w = arr.shape[:2]
                        feats = _real_image_features(arr, feat_dim)
                    else:
                        _require_codec("image")
                    rows["doc_id"].append(doc_id)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["features"].append(feats)
                yield pd.DataFrame(rows)

    return src.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


def image_pixel_stats(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """REAL PNG decode to integer-exact per-image pixel statistics:
    ``(doc_id, width, height, pix_sum, pix_min, pix_max)``. All outputs are
    integers, so an SQL oracle that knows the synthesis formula can verify
    the decoder bit-for-bit — the correctness probe for the PNG path."""
    from .codecs import decode_png

    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("data"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [], "width": [], "height": [],
                "pix_sum": [], "pix_min": [], "pix_max": [],
            }
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                arr = decode_png(bytes(data))
                h, w = arr.shape[:2]
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pix_sum"].append(int(arr.astype(np.int64).sum()))
                rows["pix_min"].append(int(arr.min()))
                rows["pix_max"].append(int(arr.max()))
            yield pd.DataFrame(rows)

    return src.mapInPandas(
        run,
        schema=(
            "doc_id long, width int, height int, "
            "pix_sum long, pix_min int, pix_max int"
        ),
    )


def audio_sample_stats(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """REAL WAV decode to integer-exact per-clip sample statistics:
    ``(doc_id, sample_rate, n_samples, samp_sum, samp_min, samp_max)`` —
    the audio twin of :func:`image_pixel_stats`."""
    from .codecs import decode_wav

    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("data"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [], "sample_rate": [], "n_samples": [],
                "samp_sum": [], "samp_min": [], "samp_max": [],
            }
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                rate, arr = decode_wav(bytes(data))
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(arr.shape[0])
                rows["samp_sum"].append(int(arr.astype(np.int64).sum()))
                rows["samp_min"].append(int(arr.min()))
                rows["samp_max"].append(int(arr.max()))
            yield pd.DataFrame(rows)

    return src.mapInPandas(
        run,
        schema=(
            "doc_id long, sample_rate int, n_samples long, "
            "samp_sum long, samp_min int, samp_max int"
        ),
    )


def _dhash_bits(arr: "np.ndarray") -> int:
    """64-bit difference hash of a decoded image: nearest-neighbor 9×8
    luma grid, bit (i, j) set iff ``grid[i, j] > grid[i, j+1]`` — MSB
    first (bit weight ``2^(63 - (i*8 + j))``). The standard pHash-family
    fingerprint: robust to re-encode/resize/brightness-preserving edits."""
    if arr.ndim == 3:
        arr = arr.astype(np.uint16).mean(axis=2).astype(np.uint8)
    h, w = arr.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(9) * w) // 9
    grid = arr[np.ix_(ys, xs)].astype(np.int16)
    bits = (grid[:, :-1] > grid[:, 1:]).ravel()
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def image_dhash(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """Perceptual hashes from REAL decoded pixels (PNG via the stdlib
    codec): ``(doc_id, phash, phash_hi, phash_lo)`` where ``phash`` is
    the signed-64-bit dHash (for banded joins / ``hamming64``) and
    hi/lo are its unsigned 32-bit halves (oracle-friendly — no sign
    games in SQL)."""
    from .codecs import decode_png, is_png

    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("data"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "phash": [], "phash_hi": [], "phash_lo": []}
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                data = bytes(data)
                if not is_png(data):
                    _require_codec("image")
                u = _dhash_bits(decode_png(data))
                rows["doc_id"].append(doc_id)
                rows["phash"].append(u - (1 << 64) if u >= (1 << 63) else u)
                rows["phash_hi"].append(u >> 32)
                rows["phash_lo"].append(u & 0xFFFFFFFF)
            yield pd.DataFrame(rows)

    return src.mapInPandas(
        run, schema="doc_id long, phash long, phash_hi long, phash_lo long"
    )


def image_near_dups(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    max_hamming: int = 3,
    band_bits: int = 16,
) -> DataFrame:
    """Image near-duplicate pairs: real decode → 64-bit dHash → the same
    pigeonhole band self-join the text SimHash path uses
    (``dedup.hash_band_pairs``) → exact Hamming verify. Returns
    ``(doc_a, doc_b, hamming)``.

    Scale: images are decoded once scan-side; only (id, 8-byte hash)
    pairs shuffle — a 100 TB image corpus shuffles ~16 bytes per image.
    Completeness: guaranteed for ``max_hamming < 64 / band_bits``."""
    from .dedup import hash_band_pairs

    # Pin the fingerprint table: hash_band_pairs self-joins it and
    # would otherwise run the PNG decode kernel over the corpus twice.
    # 16 B/image — the artifact a production run persists anyway.
    hashes = pin(
        image_dhash(df, binary_col, id_col).select("doc_id", "phash")
    )
    return hash_band_pairs(
        hashes, "doc_id", "phash",
        max_hamming=max_hamming, band_bits=band_bits, bits=64,
    )


def synth_png_table(
    df: DataFrame, id_col: str = "doc_id", pattern: str = "row"
) -> DataFrame:
    """Deterministic synthetic PNG corpus for tests/gates: for each id,
    a REAL (decoder-agnostic) greyscale PNG with

    - ``width  = 16 + id % 48``
    - ``height = 16 + (id * 7) % 48``
    - ``pattern="row"``: ``pixel(y, x) = (id + y) % 256`` (row-constant —
      keeps the pixel-stat SQL oracle to one unnest over ``y``)
    - ``pattern="xy"``:  ``pixel(y, x) = (id·(x + 3) + 2y) % 256`` — the
      horizontal frequency depends on the id, so dHash bits (and hence
      pairwise Hamming distances) are DIVERSE across the corpus, which
      is what a near-dup gate needs

    Encoding happens in ``mapInPandas`` — media bytes are born on
    executors, never the driver."""
    from .codecs import encode_png

    if pattern not in ("row", "xy"):
        raise ValueError("pattern must be 'row' or 'xy'")
    src = df.select(F.col(id_col).cast("long").alias("doc_id"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "data": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w = 16 + doc_id % 48
                h = 16 + (doc_id * 7) % 48
                ys = np.arange(h, dtype=np.int64)[:, None]
                xs = np.arange(w, dtype=np.int64)[None, :]
                if pattern == "row":
                    pixels = ((doc_id + ys) % 256 + 0 * xs).astype(np.uint8)
                else:
                    pixels = (
                        (doc_id * (xs + 3) + 2 * ys) % 256
                    ).astype(np.uint8)
                rows["doc_id"].append(doc_id)
                rows["data"].append(encode_png(pixels))
            yield pd.DataFrame(rows)

    return src.mapInPandas(run, schema="doc_id long, data binary")


def video_frame_stats(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    every_n: int = 3,
) -> DataFrame:
    """REAL Y4M decode to integer-exact per-sampled-frame luma stats:
    ``(doc_id, frame_idx, width, height, y_sum, y_min, y_max)`` — the
    video member of the codec-probe family
    (:func:`image_pixel_stats` / :func:`audio_sample_stats`)."""
    from .codecs import decode_y4m

    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("data"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [], "frame_idx": [], "width": [], "height": [],
                "y_sum": [], "y_min": [], "y_max": [],
            }
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                _fps, frames = decode_y4m(bytes(data))
                n, h, w = frames.shape
                for idx in range(0, n, every_n):
                    fr = frames[idx]
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["y_sum"].append(int(fr.astype(np.int64).sum()))
                    rows["y_min"].append(int(fr.min()))
                    rows["y_max"].append(int(fr.max()))
            yield pd.DataFrame(rows)

    return src.mapInPandas(
        run,
        schema=(
            "doc_id long, frame_idx int, width int, height int, "
            "y_sum long, y_min int, y_max int"
        ),
    )


def video_near_dups(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    every_n: int = 1,
    num_perm: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Video near-duplicate pairs — the standard frame-set design: sample
    frames (REAL decode for Y4M), treat each video as the SET of its
    frame fingerprints, MinHash that set, LSH-band the signatures, and
    verify candidates with the EXACT frame-set Jaccard. Returns
    ``(doc_a, doc_b, jaccard)`` with ``jaccard >= jaccard_threshold``.

    Scale: video bytes are decoded once scan-side and never shuffle —
    everything downstream moves (video id, 8-byte frame hash / 16-perm
    signature) tuples. The signature agg is ``num_perm`` JVM ``min()``
    aggregates (partial map-side combine); banding shuffles (band,
    band-sig) keys; the verify joins only LSH candidates' frame hashes.
    Recall is the MinHash-LSH curve (bands × rows trade-off), same knobs
    as the text near-dup path."""
    if num_perm % bands:
        raise ValueError("bands must divide num_perm")
    from .hashing import md5_long, permute

    # Engine-portable hashes throughout (md5_long + the universal-hash
    # permute family, the text-minhash machinery) instead of xxhash64:
    # a driver/SQL oracle can then replay the ENTIRE candidate pipeline
    # — frame hash → signature → banding — not just the exact verify.
    frames = (
        sample_frames(df, binary_col, id_col, every_n=every_n)
        .select(
            "doc_id",
            md5_long(F.col("frame_sha256")).alias("fh"),
        )
        .distinct()  # set semantics: repeated identical frames count once
    )
    # Eager pin: decode once, reuse thrice (sizes / signatures / verify).
    frames = pin(frames, eager=True)
    sizes = frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sig = frames.groupBy("doc_id").agg(
        F.array(
            *[
                F.min(permute(F.col("fh"), i)).alias(f"_m{i}")
                for i in range(num_perm)
            ]
        ).alias("sig")
    )
    # The banding self-join below consumes sig on both aliases — pin the
    # per-video signature table (num_perm longs/video, the minhash
    # signature-pin rationale) so the frame-set aggregation runs once,
    # not twice.
    sig = pin(sig)
    rows_per_band = num_perm // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("sig")[b * rows_per_band + r].cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bsig"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bsig").alias("bsig")
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bsig") == F.col("r.bsig"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    fa = frames.select(F.col("doc_id").alias("doc_a"), "fh")
    fb = frames.select(F.col("doc_id").alias("doc_b"), "fh")
    inter = (
        cand.join(fa, "doc_a")
        .join(fb, ["doc_b", "fh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("__na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("__nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("__inter")
                / (F.col("__na") + F.col("__nb") - F.col("__inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def synth_y4m_table(
    df: DataFrame, id_col: str = "doc_id", twin_offset: int | None = None
) -> DataFrame:
    """Deterministic synthetic Y4M corpus: for each id, a REAL Cmono
    YUV4MPEG2 stream with

    - ``width    = 8 + id % 16``
    - ``height   = 8 + (id * 5) % 16``
    - ``n_frames = 1 + id % 12``  at 25 fps
    - frame ``f`` luma ``(y, x) = (id + 3f + y) % 256``  (row-constant)

    Distinct ids provably share NO frames (the id->frame map is
    injective within the gate id range), so a near-dup gate over the
    plain corpus is vacuous. ``twin_offset`` fixes that: each id also
    emits a twin ``id + twin_offset`` whose stream is the SAME frames
    plus one continuation frame (``f = n``) — a planted near-dup pair
    with frame-set Jaccard exactly ``n / (n + 1)``.
    """
    from .codecs import encode_y4m

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "data": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w = 8 + doc_id % 16
                h = 8 + (doc_id * 5) % 16
                n = 1 + doc_id % 12
                y_idx = np.arange(h, dtype=np.int64)[None, :, None]

                def mk(n_frames: int) -> bytes:
                    f_idx = np.arange(n_frames, dtype=np.int64)[:, None, None]
                    frames = (
                        (doc_id + 3 * f_idx + y_idx) % 256
                        + np.zeros((1, 1, w), dtype=np.int64)
                    ).astype(np.uint8)
                    return encode_y4m(frames)

                rows["doc_id"].append(doc_id)
                rows["data"].append(mk(n))
                if twin_offset is not None:
                    rows["doc_id"].append(doc_id + twin_offset)
                    rows["data"].append(mk(n + 1))
            yield pd.DataFrame(rows)

    return src.mapInPandas(run, schema="doc_id long, data binary")


def _audio_fp_bits(mono: "np.ndarray", n_frames: int = 17, n_bands: int = 4) -> int:
    """64-bit spectral fingerprint (chromaprint-style): split the signal
    into ``n_frames`` frames, FFT each, sum |spectrum|² into ``n_bands``
    log-spaced bands, and set bit (f, b) iff band energy ROSE from frame
    f to f+1 — ``(n_frames - 1) × n_bands`` gradient-sign bits, MSB
    first. Amplitude-scaling invariant (signs survive gain changes);
    sensitive to spectral shape over time."""
    x = mono.astype(np.float64)
    if x.size < n_frames:
        x = np.pad(x, (0, n_frames - x.size))
    frames = np.array_split(x, n_frames)
    n_fft = max(len(f) for f in frames)
    energies = np.zeros((n_frames, n_bands))
    # log-spaced band edges over the positive spectrum (DC excluded)
    n_bins = n_fft // 2 + 1
    edges = np.unique(
        np.round(np.geomspace(1, max(2, n_bins - 1), n_bands + 1)).astype(int)
    )
    while len(edges) < n_bands + 1:  # tiny spectra: pad edges upward
        edges = np.append(edges, edges[-1] + 1)
    for i, fr in enumerate(frames):
        spec = np.abs(np.fft.rfft(fr, n=n_fft)) ** 2
        for b in range(n_bands):
            lo, hi = edges[b], edges[b + 1]
            energies[i, b] = spec[lo:hi].sum() if hi > lo else 0.0
    bits = (energies[1:] > energies[:-1]).ravel()
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def audio_fingerprint(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """Spectral fingerprints from REAL decoded WAV audio:
    ``(doc_id, afp, afp_hi, afp_lo)`` — the audio twin of
    :func:`image_dhash` (signed 64-bit for banded joins, unsigned 32-bit
    halves for SQL)."""
    from .codecs import decode_wav, is_wav

    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("data"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "afp": [], "afp_hi": [], "afp_lo": []}
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                data = bytes(data)
                if not is_wav(data):
                    _require_codec("audio")
                _rate, arr = decode_wav(data)
                u = _audio_fp_bits(arr.astype(np.float64).mean(axis=1))
                rows["doc_id"].append(doc_id)
                rows["afp"].append(u - (1 << 64) if u >= (1 << 63) else u)
                rows["afp_hi"].append(u >> 32)
                rows["afp_lo"].append(u & 0xFFFFFFFF)
            yield pd.DataFrame(rows)

    return src.mapInPandas(
        run, schema="doc_id long, afp long, afp_hi long, afp_lo long"
    )


def audio_near_dups(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    max_hamming: int = 3,
    band_bits: int = 16,
) -> DataFrame:
    """Audio near-duplicate pairs: real WAV decode → spectral fingerprint
    → pigeonhole band self-join (``dedup.hash_band_pairs``) → exact
    Hamming verify. Same scale contract as :func:`image_near_dups`:
    audio bytes never shuffle, only (id, 8-byte fingerprint)."""
    from .dedup import hash_band_pairs

    # Pin for the same reason as image_near_dups: the band self-join
    # would re-run the WAV decode + spectral fingerprint kernel twice.
    fps = pin(
        audio_fingerprint(df, binary_col, id_col).select("doc_id", "afp")
    )
    return hash_band_pairs(
        fps, "doc_id", "afp",
        max_hamming=max_hamming, band_bits=band_bits, bits=64,
    )


def synth_wav_table(
    df: DataFrame, id_col: str = "doc_id", rate: int = 8000
) -> DataFrame:
    """Deterministic synthetic WAV corpus: for each id, REAL 16-bit PCM
    mono with ``n = 100 + id % 400`` samples and
    ``sample(i) = (id * 3 + i) % 512 - 256``."""
    from .codecs import encode_wav

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "data": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 100 + doc_id % 400
                samples = (
                    (np.arange(n, dtype=np.int64) + doc_id * 3) % 512 - 256
                ).astype(np.int16)
                rows["doc_id"].append(doc_id)
                rows["data"].append(encode_wav(samples, rate))
            yield pd.DataFrame(rows)

    return src.mapInPandas(run, schema="doc_id long, data binary")


def sample_frames(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    every_n: int = 10,
    fake: bool = False,
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame, with the
    frame fingerprint = sha256 of the luma plane. Y4M (uncompressed)
    decodes FOR REAL via the stdlib codec; compressed containers (mp4,
    webm…) need PyAV and raise behind ``_require_codec``. Real
    explode/partitioning semantics either way (a 1-minute video → ~180
    rows, so output partitions re-balance via AQE after the explode)."""
    from .codecs import decode_y4m, is_y4m

    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("data"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_sha256": []}
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                data = bytes(data)
                if fake:
                    n_frames = 1 + (zlib.crc32(data) % 30)
                    frames = None
                elif is_y4m(data):
                    _, frames = decode_y4m(data)
                    n_frames = frames.shape[0]
                else:
                    _require_codec("video")
                for idx in range(0, n_frames, every_n):
                    if frames is None:
                        digest = hashlib.sha256(
                            data + idx.to_bytes(4, "big")
                        ).hexdigest()
                    else:
                        digest = hashlib.sha256(frames[idx].tobytes()).hexdigest()
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["frame_sha256"].append(digest)
            yield pd.DataFrame(rows)

    return src.mapInPandas(run, schema="doc_id long, frame_idx int, frame_sha256 string")


def _fake_resize(data: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for a real thumbnail: content-derived bytes of
    a size proportional to the target area (so size-based partition math in
    tests is realistic)."""
    digest = hashlib.sha256(data + f"{width}x{height}".encode()).digest()
    n = max(16, (width * height) // 64)
    return (digest * (n // len(digest) + 1))[:n]


def resize_images(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    width: int = 224,
    height: int = 224,
    fake: bool = False,
) -> DataFrame:
    """Re-encode images to a target size via ``mapInPandas`` — the
    normalization step before feature extraction. PNGs resize FOR REAL
    (stdlib decode → nearest-neighbor index map → re-encode); other
    formats raise behind ``_require_codec`` (Pillow's Lanczos goes behind
    the same seam). The Spark-side contract — binary in, binary out, bytes
    never on the driver, output partitions sized by ``maxPartitionBytes``
    — is identical either way."""
    from .codecs import decode_png, encode_png, is_png

    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("data"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "data": [], "width": [], "height": []}
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                data = bytes(data)
                if fake:
                    out = _fake_resize(data, width, height)
                elif is_png(data):
                    arr = decode_png(data)
                    h0, w0 = arr.shape[:2]
                    ys = (np.arange(height) * h0) // height
                    xs = (np.arange(width) * w0) // width
                    out = encode_png(arr[np.ix_(ys, xs)])
                else:
                    _require_codec("image")
                rows["doc_id"].append(doc_id)
                rows["data"].append(out)
                rows["width"].append(width)
                rows["height"].append(height)
            yield pd.DataFrame(rows)

    return src.mapInPandas(
        run, schema="doc_id long, data binary, width int, height int"
    )


def _fake_decode_audio(data: bytes, feat_dim: int) -> tuple[float, np.ndarray]:
    digest = hashlib.sha256(data).digest()
    duration = 1.0 + (digest[0] % 120)  # seconds
    seed = int.from_bytes(digest[4:12], "big") % (2**32)
    rng = np.random.RandomState(seed)
    return duration, rng.standard_normal(feat_dim).astype(np.float32)


def extract_audio_features(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    feat_dim: int = 16,
    fake: bool = False,
) -> DataFrame:
    """Audio → (duration, embedding) rows via ``mapInPandas``. 16-bit PCM
    WAV decodes FOR REAL (stdlib ``wave``) with content-derived features
    ``[mean, std, min, max, rms, zero-crossing-rate, …energy bins]``;
    compressed codecs (mp3/ogg/flac) need torchaudio/librosa and raise
    behind ``_require_codec``."""
    from .codecs import decode_wav, is_wav

    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("data"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "duration_s": [], "features": []}
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                data = bytes(data)
                if fake:
                    dur, feats = _fake_decode_audio(data, feat_dim)
                elif is_wav(data):
                    rate, arr = decode_wav(data)
                    mono = arr.astype(np.float64).mean(axis=1)
                    dur = arr.shape[0] / float(rate)
                    zc = (
                        float(np.count_nonzero(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
                        / max(1, mono.size - 1)
                    )
                    stats = [
                        mono.mean(), mono.std(), mono.min(), mono.max(),
                        float(np.sqrt(np.mean(mono**2))), zc,
                    ]
                    n_bins = max(0, feat_dim - len(stats))
                    if n_bins:
                        # coarse spectral proxy: per-segment RMS energy
                        segs = np.array_split(mono, n_bins)
                        stats.extend(
                            float(np.sqrt(np.mean(s**2))) if s.size else 0.0
                            for s in segs
                        )
                    feats = np.asarray(stats[:feat_dim], dtype=np.float32)
                else:
                    _require_codec("audio")
                rows["doc_id"].append(doc_id)
                rows["duration_s"].append(dur)
                rows["features"].append(feats)
            yield pd.DataFrame(rows)

    return src.mapInPandas(
        run, schema="doc_id long, duration_s double, features array<float>"
    )

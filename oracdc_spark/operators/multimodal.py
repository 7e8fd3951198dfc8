"""Multimodal column plumbing for training-data pipelines.

Images/audio/video are opaque ``binary`` columns with typed metadata
(the reference's LOB model: BLOB bytes + a per-column transformation
plugin, OraCdcLobTransformationsIntf.java:50 — e.g. "extract text from
PDF, push bytes to object store", doc/LogMinerConnector.adoc:49).

The Spark-side plumbing here is real and tested — schema, Arrow batch
shape, mapInPandas partitioning; the actual codec calls are STUBS
(``NotImplementedError`` or deterministic fakes) because no image/audio
libraries exist in this container.  Swap ``_decode_image_stub`` for PIL/
torchvision in production; the dataflow does not change.

Scale: mapInPandas streams Arrow batches — bytes never materialize on
the driver; batch size bounds executor memory
(spark.sql.execution.arrow.maxRecordsPerBatch).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),       # image | audio | video
        StructField("content", BinaryType(), True),      # opaque payload
        StructField("mime", StringType(), True),
        StructField("meta_json", StringType(), True),    # typed metadata
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("digest", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("feature_version", StringType(), False),
    ]
)


def synthetic_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table from documents (text bytes as the
    opaque payload) — exercises the binary-column path end-to-end."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.to_json(F.struct(F.col("n_chars").alias("orig_chars"))).alias("meta_json"),
    )


# ---------------------------------------------------------------------------
# REAL stdlib codecs: binary PPM (P6) images and RIFF/WAV PCM16 audio.
# No external image/audio libs exist in this container, but these two
# formats are fully parseable with struct alone — so the decode step is
# genuine (works on any P6 PPM / PCM16 WAV), and because the synthetic
# payloads are generated by arithmetic, the extracted features are
# mirrored in ANSI SQL and oracle-checked (closing round-1's only
# rows-only driver entry for the decode path).
# ---------------------------------------------------------------------------

WAV_RATE = 8000  # 125 µs per sample — exact integer durations


def make_ppm(media_id: int) -> bytes:
    """Valid binary PPM: width=(id%16)+1, height=(id%8)+1, pixel byte j =
    (id*7 + j*13) mod 256."""
    w, h = (media_id % 16) + 1, (media_id % 8) + 1
    pixels = (
        (media_id * 7 + 13 * np.arange(w * h * 3, dtype=np.int64)) % 256
    ).astype(np.uint8).tobytes()
    return b"P6\n%d %d\n255\n" % (w, h) + pixels


def make_wav(media_id: int) -> bytes:
    """Valid 44-byte-header PCM16 mono WAV: n=(id%100)+1 samples, sample
    i = ((id*31 + i*17) mod 65536) - 32768."""
    n = (media_id % 100) + 1
    samples = (
        ((media_id * 31 + 17 * np.arange(n, dtype=np.int64)) % 65536) - 32768
    ).astype("<i2").tobytes()
    data_len = len(samples)
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
        + b"data" + struct.pack("<I", data_len)
    )
    return hdr + samples


def ppm_raster(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a binary PPM (P6): → (width, height, raster bytes).
    Real parser — magic, whitespace-separated header tokens, comments,
    maxval."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header: P6 <w> <h> <maxval> single-whitespace, then raster
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment line
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(payload[i:j])
        i = j
    i += 1  # exactly one whitespace after maxval
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    raster = payload[i : i + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError("truncated PPM raster")
    return w, h, raster


def decode_ppm(payload: bytes) -> tuple[int, int, int]:
    """Parse a binary PPM (P6): → (width, height, sum of pixel bytes)."""
    w, h, raster = ppm_raster(payload)
    return w, h, int(np.frombuffer(raster, dtype=np.uint8).astype(np.int64).sum())


def wav_pcm(payload: bytes) -> tuple[int, bytes]:
    """Parse a RIFF/WAVE PCM16 mono payload: → (sample_rate, raw PCM
    bytes).  Real RIFF chunk walk (fmt/data chunks, padding-aware)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, bits, channels, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            _, channels, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16 or channels != 1:
        raise ValueError("only PCM16 mono supported")
    return rate, data[: (len(data) // 2) * 2]


def wav_samples(payload: bytes) -> tuple[int, tuple[int, ...]]:
    """RIFF/WAVE PCM16 mono → (sample_rate, samples)."""
    rate, data = wav_pcm(payload)
    return rate, struct.unpack(f"<{len(data) // 2}h", data)


def decode_wav(payload: bytes) -> tuple[int, int, int]:
    """RIFF/WAVE PCM16 mono → (sample_rate, n_samples, sum of squared
    sample values).  Vectorized; int64 accumulation is exact."""
    rate, data = wav_pcm(payload)
    s = np.frombuffer(data, dtype="<i2").astype(np.int64)
    return rate, len(s), int((s * s).sum())


def synthetic_codec_media(docs: DataFrame) -> DataFrame:
    """Media table whose image/audio payloads are REAL decodable formats
    (PPM / WAV) generated deterministically per media_id; video stays an
    opaque payload (no in-container codec — documented stub)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["media_id"].astype("int64")
            kinds = pdf["kind"]
            content = [
                make_ppm(int(i)) if k == "image"
                else make_wav(int(i)) if k == "audio"
                else b"\x00video\x00" + int(i).to_bytes(8, "big")
                for i, k in zip(ids, kinds)
            ]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": kinds,
                    "content": content,
                    "mime": [
                        {"image": "image/x-portable-pixmap", "audio": "audio/wav"}.get(
                            k, "application/octet-stream"
                        )
                        for k in kinds
                    ],
                    "meta_json": pdf["meta_json"],
                }
            )

    base = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.lit(None).cast("binary").alias("content"),
        F.lit(None).cast("string").alias("mime"),
        F.to_json(F.struct(F.col("n_chars").alias("orig_chars"))).alias("meta_json"),
    )
    return base.mapInPandas(gen, MEDIA_SCHEMA)


DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sum_pixels", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("duration_us", LongType(), True),
        StructField("sum_sq_amplitude", LongType(), True),
    ]
)


def decode_features(media: DataFrame) -> DataFrame:
    """Real decode over Arrow batches: PPM dims + pixel sum for images,
    WAV sample count / exact duration / energy for audio.  Videos are
    excluded (no codec available — the explicit partial)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, content in zip(
                pdf["media_id"], pdf["kind"], pdf["content"]
            ):
                if kind == "image":
                    w, h, s = decode_ppm(bytes(content))
                    rows.append((int(mid), kind, w, h, s, None, None, None))
                elif kind == "audio":
                    rate, n, ssq = decode_wav(bytes(content))
                    rows.append(
                        (int(mid), kind, None, None, None, n,
                         n * 1_000_000 // rate, ssq)
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in DECODE_SCHEMA.fields]
            )

    return media.filter(F.col("kind").isin("image", "audio")).mapInPandas(
        gen, DECODE_SCHEMA
    )


def _decode_image_stub(payload: bytes) -> tuple[int, int]:
    """STUB: real impl would be PIL.Image.open(io.BytesIO(payload)).size.
    Deterministic fake derives dims from a digest so tests are stable."""
    h = hashlib.sha256(payload).digest()
    w, ht = struct.unpack(">HH", h[:4])
    return (w % 1920) + 1, (ht % 1080) + 1


def extract_features(media: DataFrame) -> DataFrame:
    """Feature extraction over Arrow batches (mapInPandas): digest,
    byte length, stub-decoded dimensions for images."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["content"].map(lambda b: None if b is None else len(b)),
                "digest": pdf["content"].map(
                    lambda b: None if b is None else hashlib.sha256(b).hexdigest()
                ),
            }
            dims = [
                _decode_image_stub(b) if (k == "image" and b is not None) else (None, None)
                for k, b in zip(pdf["kind"], pdf["content"])
            ]
            out["width"] = pd.array([d[0] for d in dims], dtype="Int32")
            out["height"] = pd.array([d[1] for d in dims], dtype="Int32")
            out["feature_version"] = "v1-stub"
            yield pd.DataFrame(out)

    return media.mapInPandas(gen, FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: emits (media_id, frame_idx) work units
    without decoding (real decode = ffmpeg in the UDF). Demonstrates the
    explode-to-work-units pattern that keeps per-task memory flat."""
    n_frames = (F.length(F.col("content")) / 100).cast("int")  # fake frame count
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))).alias(
                "frame_idx"
            ),
        )
    )


def resize_ppm(payload: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor resize for binary P6 PPM — pure byte math,
    no imaging libs.  Source pixel for target (x, y) is
    (x*src_w//width, y*src_h//height)."""
    src_w, src_h, _ = decode_ppm(payload)
    # re-locate the raster with the same token walk decode_ppm used
    tokens = 0
    i = 2
    while tokens < 3:
        while payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while payload[i] != 0x0A:
                i += 1
            continue
        while not payload[i : i + 1].isspace():
            i += 1
        tokens += 1
    i += 1
    raster = payload[i:]
    out = bytearray()
    for y in range(height):
        sy = y * src_h // height
        row = sy * src_w * 3
        for x in range(width):
            sx = x * src_w // width
            p = row + sx * 3
            out += raster[p : p + 3]
    return b"P6\n%d %d\n255\n" % (width, height) + bytes(out)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize the image rows (P6 PPM payloads) with the real
    nearest-neighbor codec; non-image rows pass through untouched.
    mapInPandas keeps the bytes executor-side in Arrow batches — the
    plan shape production would use with PIL/opencv swapped in."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            img = pdf["kind"] == "image"
            pdf.loc[img, "content"] = pdf.loc[img, "content"].map(
                lambda b: resize_ppm(bytes(b), width, height)
            )
            yield pdf

    return media.mapInPandas(gen, media.schema)


def image_ahash(media: DataFrame, grid: int = 4) -> DataFrame:
    """Perceptual average-hash (aHash) over decoded image pixels — the
    cross-modal dedup step of a training-data pipeline (near-identical
    images collapse to one hash even across re-encodes).

    All-integer definition (bit-reproducible across engines):
    gray(x,y) = (r+g+b)//3; block (x*G//w, y*G//h) value = floor mean of
    its grays; bit = block value > floor mean of present block values;
    ahash = Σ bit·2^(by·G+bx).  Real PPM decode feeds the hash; swap the
    decoder for PIL in production — the Arrow/mapInPandas plumbing and
    the hash arithmetic stay identical.

    Scale shape: decode+hash is narrow (bytes never leave executors)
    and the per-pixel arithmetic is numpy-vectorized (no Python inner
    loop); the only wide op is the ahash window for group sizes — at
    corpus scale group instead on the hash as the dedup bucketing key.

    Output: (media_id, ahash, n_same_hash) for image rows."""
    hashed = _image_hashes(media, grid)
    win = Window.partitionBy("ahash")
    return hashed.withColumn(
        "n_same_hash", F.count(F.lit(1)).over(win).cast("bigint")
    )


def _image_hashes(media: DataFrame, grid: int = 4) -> DataFrame:
    """The decode + aHash mapInPandas stage of image_ahash, without the
    group-size window — shared by image_near_dups.  Output:
    (media_id, ahash)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            hashes: list[int] = []
            for mid, kind, content in zip(
                pdf["media_id"], pdf["kind"], pdf["content"]
            ):
                if kind != "image":
                    continue
                w, h, raster = ppm_raster(bytes(content))
                # vectorized, same all-integer arithmetic as the scalar
                # definition: bincount float64 weights are exact (block
                # gray sums < 2^53 for any real image)
                gray = (
                    np.frombuffer(raster, dtype=np.uint8)
                    .reshape(h * w, 3)
                    .astype(np.int64)
                    .sum(axis=1)
                    // 3
                )
                bx = (np.arange(w, dtype=np.int64) * grid) // w
                by = (np.arange(h, dtype=np.int64) * grid) // h
                idx = (by[:, None] * grid + bx[None, :]).ravel()
                sums = np.bincount(
                    idx, weights=gray.astype(np.float64), minlength=grid * grid
                )
                counts = np.bincount(idx, minlength=grid * grid)
                pos = np.flatnonzero(counts > 0)
                bvs = sums[pos].astype(np.int64) // counts[pos]
                mean = int(bvs.sum()) // len(pos)
                ah = int(((bvs > mean).astype(np.int64) << pos).sum())
                ids.append(int(mid))
                hashes.append(ah)
            yield pd.DataFrame({"media_id": ids, "ahash": hashes})

    return media.mapInPandas(gen, "media_id bigint, ahash bigint")


def image_near_dups(
    media: DataFrame,
    grid: int = 4,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Perceptual NEAR-duplicate image pairs: aHashes within
    ``max_hamming`` bits of each other — catches re-encodes/minor edits
    that image_ahash's exact-equality grouping misses.

    Candidate generation is band-bucketed (the simhash/MinHash trick
    applied to the perceptual hash): the grid²-bit hash splits into
    ``bands`` contiguous bit-bands; with max_hamming < bands this is
    EXACT-complete, not probabilistic — a pair differing in at most
    max_hamming bits leaves at least one band untouched (pigeonhole),
    so every qualifying pair lands in some shared (band, value) bucket.
    The exact Hamming filter (bit_count of xor) then discards the
    band-collision false positives.

    Scale shape: hashes come from the narrow decode stage; the explode
    is bounded (x bands); the self-join runs per (band, value) bucket —
    bucket sizes are dedup-bounded like every LSH family here, never
    corpus²; the final filter is codegen bit arithmetic.

    Output: (m1, m2, hamming) with m1 < m2."""
    return _hamming_near_dups(
        _image_hashes(media, grid), "ahash", grid * grid, max_hamming, bands
    )


def audio_near_dups(
    media: DataFrame,
    segments: int = 16,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Audio-side Hamming near-dups over the energy-envelope hash —
    same exact-complete banded pairing as image_near_dups (see there
    for the pigeonhole argument).  Uses 16 segments (a 16-bit hash):
    the default 8-segment hash of audio_energy_hash is too coarse to
    band — 2-bit band values give 4 buckets per band and the self-join
    degrades toward all-pairs.  Even at 16 bits the energy envelope is
    a blunt fingerprint (the synthetic corpus pairs ~40% of audios);
    production swaps the per-segment feature for FFT band energies —
    more bits, sharper buckets — with this pairing plan unchanged.
    Output: (m1, m2, hamming)."""
    return _hamming_near_dups(
        _audio_hashes(media, segments), "ehash", segments, max_hamming, bands
    )


def _hamming_near_dups(
    hashed: DataFrame,
    hash_col: str,
    n_bits: int,
    max_hamming: int,
    bands: int,
) -> DataFrame:
    """Shared banded-Hamming pairing over a (media_id, <hash>) table:
    explode into ``bands`` bit-bands, self-join per (band, value)
    bucket, exact bit_count filter.  Exact-complete for
    max_hamming < bands (pigeonhole)."""
    if n_bits % bands != 0:
        raise ValueError(f"bands must divide {n_bits} bits, got {bands}")
    if not 0 <= max_hamming < bands:
        raise ValueError(
            f"exact-completeness needs max_hamming < bands, got "
            f"{max_hamming} >= {bands}"
        )
    width = n_bits // bands
    banded = hashed.select(
        "media_id",
        F.col(hash_col).alias("hsh"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(hash_col, b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bv"),
    ).select("media_id", "hsh", "bv.band", "bv.val")
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.hsh").bitwiseXOR(F.col("b.hsh"))).cast("bigint")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("m1"),
            F.col("b.media_id").alias("m2"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def audio_energy_hash(media: DataFrame, segments: int = 8) -> DataFrame:
    """Energy-envelope fingerprint for audio columns — the audio-side
    analog of :func:`image_ahash`: near-identical recordings collapse to
    one hash for dedup bucketing.

    All-integer definition: samples split into `segments` segments by
    index (seg = i·S // n); segment energy = floor mean of s²; bit =
    energy > floor mean of segment energies; hash = Σ bit·2^seg.
    Production fingerprinting thresholds FFT band energies instead
    (scipy absent here) — the decode, segmentation, thresholding and
    bucketing plumbing is exactly what would carry those bands.  The
    sample arithmetic is numpy-vectorized (frombuffer + exact int64
    reduceat — no Python inner loop).

    Output: (media_id, ehash, n_same_hash) for audio rows."""
    hashed = _audio_hashes(media, segments)
    win = Window.partitionBy("ehash")
    return hashed.withColumn(
        "n_same_hash", F.count(F.lit(1)).over(win).cast("bigint")
    )


def _audio_hashes(media: DataFrame, segments: int = 8) -> DataFrame:
    """The decode + energy-hash mapInPandas stage of audio_energy_hash,
    without the group-size window — shared by audio_near_dups.
    Output: (media_id, ehash)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            hashes: list[int] = []
            for mid, kind, content in zip(
                pdf["media_id"], pdf["kind"], pdf["content"]
            ):
                if kind != "audio":
                    continue
                _rate, data = wav_pcm(bytes(content))
                sm = np.frombuffer(data, dtype="<i2").astype(np.int64)
                n = len(sm)
                s2 = sm * sm
                # segment k covers [ceil(k*n/S), ceil((k+1)*n/S)) — the
                # contiguous ranges of seg(i) = i*S//n; reduceat keeps
                # the energy sums in exact int64
                starts = (
                    np.arange(segments, dtype=np.int64) * n + segments - 1
                ) // segments
                ends = np.append(starts[1:], np.int64(n))
                nonempty = starts < ends  # segment k is [start_k, start_{k+1})
                ks = np.flatnonzero(nonempty)
                ener = np.add.reduceat(s2, starts[nonempty])
                cnts = ends[nonempty] - starts[nonempty]
                evs = ener // cnts
                mean = int(evs.sum()) // len(ks)
                eh = int(((evs > mean).astype(np.int64) << ks).sum())
                ids.append(int(mid))
                hashes.append(eh)
            yield pd.DataFrame({"media_id": ids, "ehash": hashes})

    return media.mapInPandas(gen, "media_id bigint, ehash bigint")


def resize_stub(media: DataFrame, width: int, height: int) -> DataFrame:
    """STUB resize for formats needing external codecs (JPEG/PNG —
    PIL/opencv absent in this container); P6 PPM has the real path
    (:func:`resize_images`)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        raise NotImplementedError(
            "JPEG/PNG resize requires PIL/opencv — not available in this "
            "container; swap this stub in production (PPM: resize_images)"
        )

    return media.mapInPandas(gen, MEDIA_SCHEMA)


def image_dhash(media: DataFrame, grid: int = 4) -> DataFrame:
    """Difference-hash (dHash) — the gradient companion to
    :func:`image_ahash`: resample grays to a (grid+1)×grid block frame
    and emit one bit per horizontal NEIGHBOR comparison
    (``bv[by][bx] > bv[by][bx+1]``).  Gradients survive global
    brightness/contrast shifts that move every block mean together and
    flip aHash bits — the standard reason perceptual-dedup stacks run
    both hashes and OR the near-dup pairs.

    Same all-integer floor arithmetic, numpy-vectorized inner loop, and
    narrow decode contract as aHash; blocks with no pixels (images
    narrower than grid+1 columns) read as 0, mirrored in the oracle.

    Output: (media_id, dhash, n_same_hash) for image rows."""

    gw = grid + 1

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            hashes: list[int] = []
            for mid, kind, content in zip(
                pdf["media_id"], pdf["kind"], pdf["content"]
            ):
                if kind != "image":
                    continue
                w, h, raster = ppm_raster(bytes(content))
                gray = (
                    np.frombuffer(raster, dtype=np.uint8)
                    .reshape(h * w, 3)
                    .astype(np.int64)
                    .sum(axis=1)
                    // 3
                )
                bx = (np.arange(w, dtype=np.int64) * gw) // w
                by = (np.arange(h, dtype=np.int64) * grid) // h
                idx = (by[:, None] * gw + bx[None, :]).ravel()
                sums = np.bincount(
                    idx, weights=gray.astype(np.float64), minlength=grid * gw
                )
                counts = np.bincount(idx, minlength=grid * gw)
                bv = np.zeros(grid * gw, dtype=np.int64)
                pos = counts > 0
                bv[pos] = sums[pos].astype(np.int64) // counts[pos]
                bv2 = bv.reshape(grid, gw)
                bits = (bv2[:, :-1] > bv2[:, 1:]).astype(np.int64)
                weights = 1 << (
                    np.arange(grid)[:, None] * grid + np.arange(grid)[None, :]
                )
                ids.append(int(mid))
                hashes.append(int((bits * weights).sum()))
            yield pd.DataFrame({"media_id": ids, "dhash": hashes})

    hashed = media.mapInPandas(gen, "media_id bigint, dhash bigint")
    win = Window.partitionBy("dhash")
    return hashed.withColumn(
        "n_same_hash", F.count(F.lit(1)).over(win).cast("bigint")
    )


def audio_zcr_hash(media: DataFrame, segments: int = 8) -> DataFrame:
    """Zero-crossing-rate fingerprint — the spectral-content companion
    to :func:`audio_energy_hash`: ZCR tracks dominant frequency
    (noisy/sibilant segments cross often, tonal bass rarely), so the
    two hashes disagree exactly where energy alone confuses loud-tonal
    with loud-noisy content; production stacks threshold both.

    All-integer definition over sample TRANSITIONS: a transition at i
    crosses when ``(s_i >= 0) != (s_{i+1} >= 0)``; its segment is the
    left sample's ``(i·S) // n``; per-segment rate = (crossings·1000)
    // transitions; bit = rate > floor mean of present-segment rates;
    hash = Σ bit·2^seg.  Audio with fewer than 2 samples has no
    transitions and hashes to 0 (mirrored in the oracle via the left
    join).  numpy-vectorized; narrow decode, bytes never leave
    executors.

    Output: (media_id, zhash, n_same_hash) for audio rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            hashes: list[int] = []
            for mid, kind, content in zip(
                pdf["media_id"], pdf["kind"], pdf["content"]
            ):
                if kind != "audio":
                    continue
                _rate, data = wav_pcm(bytes(content))
                sm = np.frombuffer(data, dtype="<i2").astype(np.int64)
                n = len(sm)
                if n < 2:
                    ids.append(int(mid))
                    hashes.append(0)
                    continue
                zc = ((sm[:-1] >= 0) != (sm[1:] >= 0)).astype(np.int64)
                seg = (np.arange(n - 1, dtype=np.int64) * segments) // n
                sums = np.bincount(
                    seg, weights=zc.astype(np.float64), minlength=segments
                ).astype(np.int64)
                counts = np.bincount(seg, minlength=segments)
                pos = np.flatnonzero(counts > 0)
                zq = (sums[pos] * 1000) // counts[pos]
                mv = int(zq.sum()) // len(pos)
                zh = int(((zq > mv).astype(np.int64) << pos).sum())
                ids.append(int(mid))
                hashes.append(zh)
            yield pd.DataFrame({"media_id": ids, "zhash": hashes})

    hashed = media.mapInPandas(gen, "media_id bigint, zhash bigint")
    win = Window.partitionBy("zhash")
    return hashed.withColumn(
        "n_same_hash", F.count(F.lit(1)).over(win).cast("bigint")
    )

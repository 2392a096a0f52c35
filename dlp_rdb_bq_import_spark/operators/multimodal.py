"""Multimodal columns: opaque binary payloads + typed metadata.

Design (BASELINE.json north star): media travels as a ``binary`` column
with a sibling metadata struct; decode / feature-extract / resize /
frame-sample are Pandas-UDF stages over ``mapInPandas`` so each Arrow
batch is processed vectorized and the (large) payload bytes never pass
through Python row-at-a-time.

The decode stage is REAL: ``operators/media_codecs.py`` implements the
public interchange formats byte-for-byte (24-bit BMP, P6 PPM,
non-interlaced 8-bit PNG — PNG's DEFLATE is stdlib zlib — baseline
JPEG per ITU-T T.81 and GIF87a/89a images, plus RIFF 16-bit-PCM WAV
audio and YUV4MPEG2 C444 video), so features, thumbnails and frame
digests below are computed from actual decoded pixels/samples. The
remaining formats whose decode is out of scope (JPEG arithmetic/
hierarchical/12-bit variants, MP3, H.264) raise
``NotImplementedError`` with a named reason at the dispatch layer —
see ``media_codecs.py`` for the exact scope of each codec.

Fixtures carry no media, so ``attach_media`` synthesizes real encoded
bytes deterministically from the document id (a BMP is a BMP whether a
camera or a RNG chose the pixels); ``attach_payload`` keeps the plain
text→bytes packing used by the metadata-only stats path.

100 TB posture: payload columns are pruned unless projected, so a
metadata-only query never reads the bytes; decode stages emit
fixed-width features/digests (thousands of times smaller than the
payloads), so data volume collapses at the first Python-side stage and
everything downstream is JVM-side relational algebra again.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import media_codecs as codecs

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image/audio/video
        T.StructField("format", T.StringType()),  # bmp/ppm/wav/y4m/...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def attach_payload(df: DataFrame, source_col: str, out: str = "payload") -> DataFrame:
    """Pack a column into the opaque binary payload column (the
    metadata-only path: stats/digest stages never decode)."""
    return df.withColumn(out, F.encode(F.col(source_col).cast("string"), "UTF-8"))


_ATTACH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def attach_media(
    df: DataFrame,
    media: str = "image",
    id_col: str = "doc_id",
    container: str | None = None,
    with_meta: bool = True,
    media_col: str | None = None,
    container_col: str | None = None,
) -> DataFrame:
    """Attach a REAL encoded media payload per row, synthesized
    deterministically from the id (fixtures carry no media bytes; the
    encoders in ``media_codecs`` produce spec-conformant BMP/PPM/PNG/
    WAV/Y4M files). Output: (doc_id, payload, media_type, format,
    width, height, duration_ms) — payload plus the typed metadata
    columns the schema contract promises. Deterministic and
    partitioning-independent by construction (seed = id).
    ``container`` pins the image container ("bmp"/"ppm"/"png") instead
    of the seed-parity default; ignored for audio/video.

    ``with_meta=False`` skips the decode-for-metadata pass and emits
    zeroed width/height/duration columns (same schema): consumers that
    re-derive their stats from the payload itself — the header-bytes
    probe above all, whose whole point is to never pay decode cost —
    were otherwise paying a full PNG/WAV/Y4M decode per row for columns
    they drop (r14 measurement).

    ``media_col``/``container_col`` switch media (and image container)
    PER ROW from the named string columns instead of the scalar
    parameters — the mixed-corpus sweep then runs as ONE Python chain
    over the full id set rather than one chain per media branch. Each
    row's payload/metadata is identical to what the scalar form would
    synthesize for it (pinned in tests); the only change is how many
    JVM↔Python boundaries the sweep pays (r15: each mapInPandas stage
    costs ~10 ms of worker session per task, and the 4-branch probe
    paid 8 × 32 of them)."""
    if media_col is None and media not in ("image", "audio", "video"):
        raise ValueError(f"unknown media type {media!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            media_vals = pdf[media_col] if media_col else None
            cont_vals = pdf[container_col] if container_col else None
            for j, doc_id in enumerate(pdf[id_col]):
                seed = int(doc_id)
                row_media = media if media_vals is None else media_vals.iloc[j]
                row_container = (
                    container if cont_vals is None else cont_vals.iloc[j]
                )
                if row_media not in ("image", "audio", "video"):
                    raise ValueError(f"unknown media type {row_media!r}")
                if row_media == "image":
                    payload = codecs.synthesize_image(seed, container=row_container)
                    if with_meta:
                        img = codecs.decode_image_payload(payload)
                        meta = (img.shape[1], img.shape[0], 0)
                    else:
                        meta = (0, 0, 0)
                elif row_media == "audio":
                    payload = codecs.synthesize_audio(seed)
                    if with_meta:
                        samples, rate = codecs.decode_wav(payload)
                        meta = (0, 0, len(samples) * 1000 // rate)
                    else:
                        meta = (0, 0, 0)
                else:
                    payload = codecs.synthesize_video(seed)
                    if with_meta:
                        frames, num, den = codecs.decode_y4m(payload)
                        meta = (
                            frames.shape[2],
                            frames.shape[1],
                            frames.shape[0] * 1000 * den // num,
                        )
                    else:
                        meta = (0, 0, 0)
                rows.append(
                    (
                        seed,
                        payload,
                        row_media,
                        codecs.sniff_format(payload),
                        meta[0],
                        meta[1],
                        meta[2],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "payload",
                    "media_type",
                    "format",
                    "width",
                    "height",
                    "duration_ms",
                ],
            )

    keep = [F.col(id_col).cast("long").alias(id_col)]
    if media_col:
        keep.append(F.col(media_col).cast("string").alias(media_col))
    if container_col:
        keep.append(F.col(container_col).cast("string").alias(container_col))
    return df.select(*keep).mapInPandas(run, schema=_ATTACH_SCHEMA)


def payload_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Metadata-only pass: byte length + content digest, computed
    JVM-side. Column pruning keeps this off the slow path when payloads
    are parquet-backed."""
    return df.withColumn("byte_len", F.length(F.col(payload_col)).cast("long")).withColumn(
        "payload_md5", F.md5(F.col(payload_col))
    )


_HEADER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("media_format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("fps_num", T.IntegerType()),
        T.StructField("fps_den", T.IntegerType()),
    ]
)


def media_header_stats(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Format + dimensions + duration for every media payload from
    HEADER BYTES ONLY — the stats pass that must not pay decode cost.

    The 100 TB posture is in the projection, not just the parser: the
    JVM slices ``substring(payload, 1, HEADER_PROBE_BYTES)`` and ships
    only that prefix plus the total length through Arrow, so a corpus
    of megabyte videos crosses the Python boundary at a few KB per row
    and no pixel/sample/frame byte is ever copied or parsed
    (``media_codecs.probe_media_header``). Unknown or compressed
    containers yield their sniffed format with null dimensions instead
    of raising, so one sweep profiles a mixed corpus. NULL payloads
    keep their row too (byte_len=0, null media_format) — a corpus
    sweep must not silently lose ids — and the output id column takes
    ``id_col``'s name."""
    schema = T.StructType(
        [T.StructField(id_col, T.LongType()), *_HEADER_STATS_SCHEMA.fields[1:]]
    )
    null_probe = {f.name: None for f in _HEADER_STATS_SCHEMA.fields[2:]}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blen, prefix in zip(
                pdf[id_col], pdf["_len"], pdf["_hdr"]
            ):
                if prefix is None:
                    rows.append({id_col: int(doc_id), "byte_len": 0, **null_probe})
                    continue
                p = codecs.probe_media_header(bytes(prefix), int(blen))
                rows.append({id_col: int(doc_id), "byte_len": int(blen), **p})
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    pruned = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.length(payload_col).cast("long").alias("_len"),
        F.substring(F.col(payload_col), 1, codecs.HEADER_PROBE_BYTES).alias("_hdr"),
    )
    return pruned.mapInPandas(run, schema=schema)


def decode_image(payload: bytes) -> np.ndarray:
    """Real image decode: BMP, PPM, and non-interlaced 8-bit PNG parsed
    byte-for-byte from the public specs (PNG inflates via stdlib zlib);
    formats needing a codec library (JPEG/GIF) raise
    ``NotImplementedError``."""
    return codecs.decode_image_payload(bytes(payload))


_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_px", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def extract_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Decode → featurize stage: Arrow-batched, payload bytes in /
    small feature vector out (the 100 TB posture: features are
    thousands of times smaller than payloads, so this stage is where
    the data volume collapses). Decodes the actual image bytes;
    features are real pixel statistics (dims, global mean, per-channel
    means)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, lens, ws, hs, means, feats = [], [], [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                img = decode_image(payload)
                ids.append(doc_id)
                lens.append(len(payload))
                ws.append(img.shape[1])
                hs.append(img.shape[0])
                means.append(float(img.mean()))
                feats.append(img.astype(np.float64).mean(axis=(0, 1)).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "byte_len": lens,
                    "width": ws,
                    "height": hs,
                    "mean_px": means,
                    "feature": feats,
                }
            )

    return df.select(F.col(id_col).cast("long").alias(id_col), payload_col).mapInPandas(
        run, schema=_FEATURE_SCHEMA
    )


_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def extract_audio_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Real WAV/PCM decode → signal features: duration, RMS amplitude,
    zero-crossing count (the cheap speech/music discriminator). Same
    Arrow-batched volume-collapsing shape as the image path."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                samples, rate = codecs.decode_wav(bytes(payload))
                mono = samples.astype(np.float64).mean(axis=1)
                zc = int(np.count_nonzero(np.diff(np.signbit(mono))))
                rows.append(
                    (
                        int(doc_id),
                        len(payload),
                        rate,
                        len(mono),
                        len(mono) * 1000 // rate,
                        float(np.sqrt(np.mean(mono**2))) if len(mono) else 0.0,
                        zc,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "byte_len",
                    "sample_rate",
                    "n_samples",
                    "duration_ms",
                    "rms",
                    "zero_crossings",
                ],
            )

    return df.select(F.col(id_col).cast("long").alias(id_col), payload_col).mapInPandas(
        run, schema=_AUDIO_SCHEMA
    )


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("src_frame", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_ms: int = 250,
) -> DataFrame:
    """Frame sampling over REAL video payloads: the Y4M stream is
    decoded, one row emitted per sampled timestamp (0, every_ms, … up
    to the stream duration), carrying the digest of the actual frame
    the stream shows at that instant (frame floor(ts·fps/1000)). The
    output carries digests rather than pixels — at 100 TB the frame
    store is a separate sink; pipeline rows carry references."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                frames, num, den = codecs.decode_y4m(bytes(payload))
                n = frames.shape[0]
                duration_ms = n * 1000 * den // num
                i = 0
                for ts in range(0, int(duration_ms), every_ms):
                    src = min(ts * num // (1000 * den), n - 1)
                    digest = hashlib.md5(
                        np.ascontiguousarray(frames[src]).tobytes()
                    ).hexdigest()
                    rows.append((int(doc_id), i, ts, int(src), digest))
                    i += 1
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "frame_ts_ms", "src_frame", "frame_md5"],
            )

    return df.select(F.col(id_col).cast("long").alias(id_col), payload_col).mapInPandas(
        run, schema=_FRAME_SCHEMA
    )


_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_md5", T.StringType()),
    ]
)


def resize_images(
    df: DataFrame,
    out_w: int = 2,
    out_h: int = 2,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode → resize → re-emit stage over real image bytes:
    nearest-neighbor index sampling over the decoded pixel array (the
    same arithmetic a production thumbnailer runs). Output carries dims
    + byte count + content digest rather than the pixels, so the stage
    output stays fixed-width no matter the input image size."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                img = decode_image(payload)
                h, w = img.shape[0], img.shape[1]
                yi = np.arange(out_h) * h // out_h
                xi = np.arange(out_w) * w // out_w
                raw = np.ascontiguousarray(img[yi][:, xi]).tobytes()
                rows.append(
                    (
                        int(doc_id),
                        out_w,
                        out_h,
                        len(raw),
                        hashlib.md5(raw).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "out_w", "out_h", "n_bytes", "content_md5"]
            )

    return df.select(F.col(id_col).cast("long").alias(id_col), payload_col).mapInPandas(
        run, schema=_RESIZE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Perceptual hashing (dHash) + image near-dup
# ---------------------------------------------------------------------------


def dhash_pixels(img: np.ndarray) -> int:
    """Difference-hash of a decoded HxWx3 uint8 pixel array (the public
    dHash algorithm): ITU-R 601 luma, nearest-neighbor downsample to
    9x8, then one bit per horizontal neighbor comparison -> 64-bit int.
    Pure integer/numpy arithmetic, bit-deterministic everywhere."""
    h, w = img.shape[0], img.shape[1]
    # integer luma (x1000 fixed point) avoids float rounding entirely
    px = img.astype(np.int64)
    luma = 299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]
    yi = np.arange(8) * h // 8
    xi = np.arange(9) * w // 9
    grid = luma[yi][:, xi]  # 8 rows x 9 cols
    bits = (grid[:, 1:] > grid[:, :-1]).flatten()  # 8x8 row-major
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    # interpret as signed int64 for Spark LongType
    return val - (1 << 64) if val >= (1 << 63) else val


_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def image_dhash(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-image 64-bit perceptual hash over REAL decoded pixels
    (media_codecs BMP/PPM decode inside an Arrow-batched mapInPandas).
    The hash survives uniform brightness shifts (comparisons, not
    values) and small rescales (9x8 grid) — the property that makes
    Hamming-near hashes mean near-duplicate IMAGES, not near-duplicate
    bytes. Output is fixed-width (id, long), so payload volume
    collapses at this stage; everything downstream is JVM bit math."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                ids.append(int(doc_id))
                hashes.append(dhash_pixels(decode_image(payload)))
            yield pd.DataFrame({"doc_id": ids, "dhash": hashes})

    return df.select(F.col(id_col).cast("long").alias(id_col), payload_col).mapInPandas(
        run, schema=_DHASH_SCHEMA
    )


def image_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate image pairs: dHash signatures -> the shared
    pigeonhole-banded Hamming join (dedup.hamming_neardup_pairs — the
    same candidate engine SimHash text near-dup uses). One Python
    decode pass, then banded equi-joins; no cross join at any scale.
    Returns (id_a, id_b, hamming)."""
    from .dedup import hamming_neardup_pairs

    sigs = image_dhash(df, id_col=id_col, payload_col=payload_col)
    return hamming_neardup_pairs(sigs, "doc_id", "dhash", max_hamming)


def cdc_chunk_table(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    window: int = 16,
    mask_bits: int = 8,
    min_size: int = 64,
    max_size: int = 1024,
) -> DataFrame:
    """Content-defined chunking (the Rabin/LBFS recipe — Muthitacharoen
    et al., SOSP 2001; the storage- and artifact-dedup standard): cut
    each binary payload at positions where a rolling hash of the
    trailing ``window`` bytes hits a magic value (all-ones in the low
    ``mask_bits``), clamped to [min_size, max_size]. Because
    boundaries depend only on LOCAL content, an insertion near the
    front of a payload re-chunks only the chunks it touches — every
    later chunk realigns byte-identically, which is the whole point:
    fixed-size blocking loses all alignment after one inserted byte,
    CDC loses one chunk. Output, one row per chunk:

    ``(id_col, chunk_ord, offset, length, chunk_md5)``

    — the chunk table that joins on chunk_md5 for cross-payload
    block-level dedup exactly like doc-level fingerprint dedup joins
    on content digests. Expected chunk size ≈ min_size + 2^mask_bits.

    Distribution: Arrow-batched mapInPandas; per payload the rolling
    hash is one vectorized sliding-window dot with a precomputed
    power kernel (mod 2^32 via uint64 masking — overflow-safe:
    16 products < 2^40 each), then a short Python walk over CANDIDATE
    boundaries only (≈ payload/2^mask_bits of them) applies the
    min/max clamps. Deterministic and partitioning-independent by
    construction. Payloads shorter than ``window`` are one chunk.

    Cites the reference only by contrast: its unit of transfer is an
    RDB row (common/TableToDbRowFn.java) — binary artifact dedup has
    no counterpart there."""
    if window < 2:
        raise ValueError(f"cdc_chunk_table: window must be >= 2, got {window}")
    if not 1 <= mask_bits <= 30:
        raise ValueError(
            f"cdc_chunk_table: mask_bits must be in [1,30], got {mask_bits}"
        )
    if not 0 < min_size < max_size:
        raise ValueError(
            f"cdc_chunk_table: need 0 < min_size < max_size, got "
            f"{min_size}, {max_size}"
        )
    key_dt = dict(df.dtypes)[id_col]
    out_schema = (
        f"`{id_col}` {key_dt}, chunk_ord long, offset long, "
        "length long, chunk_md5 string"
    )
    p = 31
    mod_mask = (1 << 32) - 1
    kernel = np.array(
        [pow(p, window - 1 - j, 1 << 32) for j in range(window)],
        dtype=np.uint64,
    )
    magic = np.uint64((1 << mask_bits) - 1)
    low = np.uint64(mod_mask)

    def cuts(buf: bytes) -> list[int]:
        n = len(buf)
        if n <= min_size:
            return [n] if n else []
        arr = np.frombuffer(buf, dtype=np.uint8).astype(np.uint64)
        if n >= window:
            sw = np.lib.stride_tricks.sliding_window_view(arr, window)
            h = (sw @ kernel) & low
            # candidate boundary AFTER byte i+window-1
            cand = np.nonzero((h & magic) == magic)[0] + window
        else:
            cand = np.empty(0, dtype=np.int64)
        out, last, ci = [], 0, 0
        while last < n:
            hard = last + max_size
            cut = None
            while ci < len(cand) and cand[ci] <= hard:
                c = int(cand[ci])
                ci += 1
                if c >= last + min_size and c < n:
                    cut = c
                    break
            if cut is None:
                cut = min(hard, n)
                while ci < len(cand) and cand[ci] <= cut:
                    ci += 1
            out.append(cut)
            last = cut
        return out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ords, offs, lens, digs = [], [], [], [], []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                buf = bytes(payload) if payload is not None else b""
                last = 0
                for k, cut in enumerate(cuts(buf), start=1):
                    ids.append(rid)
                    ords.append(k)
                    offs.append(last)
                    lens.append(cut - last)
                    digs.append(hashlib.md5(buf[last:cut]).hexdigest())
                    last = cut
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "chunk_ord": ords,
                    "offset": offs,
                    "length": lens,
                    "chunk_md5": digs,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def extract_channel_histograms(
    df: DataFrame,
    n_bins: int = 8,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode → per-channel intensity histograms: the standard color-
    distribution feature (near-dup screening by palette, exposure QA,
    channel-imbalance detection) in the same Arrow-batched decode
    stage as :func:`extract_features`. Long-form sparse output — one
    row per ``(doc, channel, bin)`` with a nonzero count: ``(doc_id,
    channel (long, 0=R 1=G 2=B), bin (long, intensity·n_bins/256),
    n_px (long))``. Exact integer counts of the REAL decoded pixels
    (deterministic: same payload ⟹ same histogram on every engine
    and partitioning); undecodable/NULL payloads are skipped like the
    feature stage."""
    if not 1 <= n_bins <= 256:
        raise ValueError(f"n_bins must be in 1..256, got {n_bins}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, chans, bins, counts = [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                img = decode_image(payload)
                binned = (
                    img.astype(np.int64) * n_bins // 256
                )  # (h, w, 3) bin ids
                for ch in range(img.shape[2]):
                    vals, cnts = np.unique(binned[:, :, ch], return_counts=True)
                    for v, c in zip(vals, cnts):
                        ids.append(doc_id)
                        chans.append(ch)
                        bins.append(int(v))
                        counts.append(int(c))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "channel": chans,
                    "bin": bins,
                    "n_px": counts,
                }
            )

    return df.mapInPandas(
        run, schema="doc_id long, channel long, bin long, n_px long"
    )

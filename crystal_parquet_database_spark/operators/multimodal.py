"""Multimodal columns: images/audio/video as opaque ``binary`` columns with
typed metadata, processed through Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schemas, partitioning, UDF signatures, batch shapes
— is real and tested. The actual media decoding is STUBBED: the image/audio
libraries (PIL, torchvision, ffmpeg, …) are not in this container, so each
operator resolves a decoder via try-import and otherwise uses a
clearly-marked DETERMINISTIC FAKE derived from the bytes' md5 (stable across
runs/partitionings, so tests can assert values). Exception: PNG metadata
(width/height) is REAL even without PIL, via a vendored pure-python IHDR
header parse. Swap ``_fake_*`` for the real decoder body when the libraries
exist; nothing else changes.

Scale notes: mapInPandas streams Arrow batches — content bytes never
materialize as one driver object; CPU-heavy decode parallelizes per
partition, so `repartition(n)` before these ops is the knob (what
operators/spread.spread does for the text operators).
"""

from __future__ import annotations

import hashlib
import sys
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

image_meta_struct = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _as_bytes(b) -> bytes | None:
    """Arrow hands binary cells to pandas as bytes/bytearray, and a NULL cell
    as None (or float NaN through object columns). ``bytes(None)`` raises —
    and one failed-upload row must not abort the whole job — so every op
    routes its cell through this: None in, None out, marked downstream."""
    if b is None or isinstance(b, float):
        return None
    return bytes(b)


def _md5_ints(data: bytes, n: int) -> list[int]:
    """Deterministic pseudo-values from content bytes (the FAKE decode)."""
    out: list[int] = []
    seed = data
    while len(out) < n:
        seed = hashlib.md5(seed).digest()
        out.extend(seed)
    return out[:n]


def _fake_decode_meta(data: bytes) -> dict:
    """DETERMINISTIC FAKE for image header decode (PIL not available)."""
    h = _md5_ints(data, 4)
    return {
        "mime": "image/fake",
        "width": 16 + h[0] % 240,
        "height": 16 + h[1] % 240,
        "n_bytes": len(data),
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _parse_png_ihdr(data: bytes) -> dict | None:
    """REAL (pure-python) PNG metadata: the IHDR chunk is mandated to be
    first (PNG spec §11.2.2), so width/height sit at fixed offsets 16/20 as
    big-endian u32 — no imaging library needed for header fields."""
    if len(data) >= 24 and data[:8] == _PNG_SIG and data[12:16] == b"IHDR":
        width = int.from_bytes(data[16:20], "big")
        height = int.from_bytes(data[20:24], "big")
        # spec-faithful validation doubling as schema safety: PNG (§11.2.2)
        # caps dimensions at 2^31-1 and zero is invalid, so any out-of-range
        # u32 is a corrupt/adversarial header — and would also overflow the
        # IntegerType meta column (Arrow either aborts the batch or silently
        # wraps negative). Treat it as not-a-PNG → undecodable downstream.
        if not (0 < width <= 0x7FFFFFFF and 0 < height <= 0x7FFFFFFF):
            return None
        return {"mime": "image/png", "width": width, "height": height, "n_bytes": len(data)}
    return None


_JPEG_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}  # SOFn minus DHT/JPG/DAC (JPEG spec, table B.1)


def _parse_jpeg_sof(data: bytes) -> dict | None:
    """REAL (pure-python) JPEG metadata: walk the marker segments
    ([0xFF marker][u16 length incl. itself]) until an SOFn frame header,
    whose payload is [precision u8][height u16][width u16] big-endian —
    same no-library trick as ``_parse_png_ihdr``."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            return None  # corrupt marker stream
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte padding before a marker
            pos += 1
            continue
        if marker == 0xD9:  # end-of-image before any SOF
            return None
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers carry no length
            continue
        seg_len = int.from_bytes(data[pos + 2 : pos + 4], "big")
        if seg_len < 2:
            return None
        if marker in _JPEG_SOF_MARKERS:
            # the declared segment must COVER the dimension fields
            # (len u16 + precision u8 + height u16 + width u16 = 7): with
            # seg_len in [2,6] the bytes at pos+5..9 belong to the NEXT
            # segment — garbage dimensions, not authoritative metadata
            if seg_len < 7 or pos + 9 > len(data):
                return None  # truncated/corrupt frame header
            height = int.from_bytes(data[pos + 5 : pos + 7], "big")
            width = int.from_bytes(data[pos + 7 : pos + 9], "big")
            if height == 0 or width == 0:
                # SOF height 0 is SPEC-VALID (the real height arrives in a
                # later DNL marker this minimal parser doesn't chase) —
                # reporting 0 as a real decoded dimension poisons every
                # downstream consumer, so route to the undecodable path
                # like the PNG parser does for zero dims
                return None
            return {
                "mime": "image/jpeg",
                "width": width,
                "height": height,
                "n_bytes": len(data),
            }
        if marker == 0xDA:  # start-of-scan: entropy data follows, no SOF seen
            return None
        pos += 2 + seg_len
    return None


def _parse_gif_header(data: bytes) -> dict | None:
    """REAL (pure-python) GIF metadata: the logical-screen descriptor puts
    width/height at fixed offsets 6/8 as little-endian u16 (GIF89a spec §18)."""
    if len(data) >= 10 and data[:6] in (b"GIF87a", b"GIF89a"):
        width = int.from_bytes(data[6:8], "little")
        height = int.from_bytes(data[8:10], "little")
        return {"mime": "image/gif", "width": width, "height": height, "n_bytes": len(data)}
    return None


def _parse_image_header(data: bytes) -> dict | None:
    """Dispatch the pure-python header parsers (PNG/JPEG/GIF)."""
    return _parse_png_ihdr(data) or _parse_jpeg_sof(data) or _parse_gif_header(data)


# Probed ONCE, on the DRIVER, at import time. The flag is captured into the
# mapInPandas closure so every executor takes the branch the driver decided —
# on a deployment where driver and executor images differ, a per-executor
# re-probe would let the runtime branch diverge from the oracle the driver
# registered against this same flag (surface/llm.py), silently degrading or
# falsely failing the gate.
try:
    import PIL  # noqa: F401

    DRIVER_HAS_PIL = True
except ImportError:
    DRIVER_HAS_PIL = False


def _decode_meta(data: bytes, use_pil: bool = DRIVER_HAS_PIL) -> dict:
    # Vendored header parsers FIRST: they are REAL (fixed-offset spec reads),
    # deterministic across environments, and accept header-only fixtures
    # (e.g. a PNG with IHDR but no IDAT) that a full decoder would reject —
    # so installing PIL cannot flip results for bytes the parsers understand.
    parsed = _parse_image_header(data)
    if parsed is not None:
        return parsed
    if not use_pil:
        return _fake_decode_meta(data)
    try:  # full-decode path for formats outside PNG/JPEG/GIF, when available
        from PIL import Image  # type: ignore
    except ImportError:
        # driver probed PIL but this executor lacks it (image skew): fall
        # back to the fake — the oracle is rows-only in the has-PIL case,
        # so the degradation is graceful, never a spurious hash failure
        return _fake_decode_meta(data)
    import io

    img = None
    try:
        img = Image.open(io.BytesIO(data))
        return {
            "mime": Image.MIME.get(img.format or "", "image/unknown"),
            "width": img.width,
            "height": img.height,
            "n_bytes": len(data),
        }
    except Exception as e:
        # undecodable bytes must not fail the whole job — mark, report, don't crash
        guess = Image.MIME.get(getattr(img, "format", None) or "", "image/unknown")
        msg = str(e).replace("\n", " ")
        print(f"image decode: marked undecodable (MIME guess {guess}): {type(e).__name__}: {msg}", file=sys.stderr)
        return {"mime": "image/undecodable", "width": None, "height": None, "n_bytes": len(data)}


def with_image_meta(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Append a typed ``meta`` struct decoded from the binary column."""
    if "meta" in df.columns:
        raise ValueError(
            "input already carries a 'meta' column (a prior *_meta op not "
            "dropped?); rename or drop it first — a duplicate field name "
            "mis-binds the Arrow batch columns"
        )
    out_schema = T.StructType(df.schema.fields + [T.StructField("meta", image_meta_struct)])

    use_pil = DRIVER_HAS_PIL  # driver-side decision, serialized into the closure

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        missing = {"mime": "image/missing", "width": None, "height": None, "n_bytes": None}
        for pdf in batches:
            pdf = pdf.copy()
            pdf["meta"] = [
                _decode_meta(data, use_pil) if (data := _as_bytes(b)) is not None else missing
                for b in pdf[content_col]
            ]
            yield pdf

    return df.mapInPandas(op, schema=out_schema)


def image_features(
    df: DataFrame, content_col: str = "content", id_col: str = "image_id", dim: int = 16
) -> DataFrame:
    """Feature-extraction stub: binary → float vector of length ``dim``.

    Real body would run a vision encoder per Arrow batch (optionally on GPU);
    the FAKE derives dim bytes from md5 and scales to [0, 1). The output
    schema (id, features array<float>) feeds directly into
    operators/similarity.cosine_topk / ann_lsh_topk.
    """
    out_schema = T.StructType(
        [
            # the caller's id type, verbatim — a string/uuid id pinned to
            # LongType fails deep inside mapInPandas at Arrow conversion
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # plain lists, not ndarrays: a column mixing ndarray cells with a
            # None (NULL content → NULL features) breaks Arrow's converter
            feats = [
                [x / 256.0 for x in _md5_ints(data, dim)]
                if (data := _as_bytes(b)) is not None
                else None
                for b in pdf[content_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col].values, "features": feats})

    return df.mapInPandas(op, schema=out_schema)


def resize_images(
    df: DataFrame, content_col: str = "content", width: int = 64, height: int = 64
) -> DataFrame:
    """Resize stub: binary → binary (same schema, new content).

    FAKE: re-hashes content to width*height deterministic bytes. Real body:
    PIL resize per batch."""
    schema = df.schema

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[content_col] = [
                bytes(_md5_ints(data, width * height))
                if (data := _as_bytes(b)) is not None
                else None  # NULL content stays NULL
                for b in pdf[content_col]
            ]
            yield pdf

    return df.mapInPandas(op, schema=schema)


video_meta_struct = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("brand", T.StringType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _parse_mp4_meta(data: bytes) -> dict | None:
    """REAL (pure-python) MP4 metadata: walk the top-level ISO-BMFF boxes
    ([u32 size][4-byte type]); the ftyp box carries the major brand, and the
    moov box's mvhd child carries timescale/duration at fixed offsets
    (version-0 layout) — no media library needed for container fields (the
    video analogue of ``_parse_png_ihdr`` / ``_parse_wav_header``)."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        return None
    brand = data[8:12].decode("ascii", "replace")
    duration_s = None
    pos = 0
    while pos + 8 <= len(data):
        size = int.from_bytes(data[pos : pos + 4], "big")
        btype = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            # 64-bit largesize (standard for >4 GiB mdat): real size is the
            # u64 at pos+8; the box header is 16 bytes instead of 8
            if pos + 16 > len(data):
                break
            size = int.from_bytes(data[pos + 8 : pos + 16], "big")
            hdr = 16
            if size < 16:
                break
        elif size == 0:
            # "box extends to end of file" (ISO-BMFF §4.2)
            size = len(data) - pos
        elif size < 8:
            break
        if btype == b"moov":
            # walk moov children for mvhd (children start after THIS box's
            # header, which is 16 bytes when moov itself uses largesize)
            cpos = pos + hdr
            end = min(pos + size, len(data))
            while cpos + 8 <= end:
                csize = int.from_bytes(data[cpos : cpos + 4], "big")
                chdr = 8
                # mirror the top-level walk's size encodings: a child using
                # a 64-bit largesize header (csize==1 — legal ISO-BMFF, the
                # same >4GiB case the top-level branch handles) or
                # to-end-of-parent (csize==0) must be SKIPPED correctly, not
                # abort the scan before a later spec-valid mvhd is reached
                if csize == 1:
                    if cpos + 16 > end:
                        break
                    csize = int.from_bytes(data[cpos + 8 : cpos + 16], "big")
                    chdr = 16
                    if csize < 16:
                        break
                elif csize == 0:
                    csize = end - cpos
                elif csize < 8:
                    break
                if (
                    chdr == 8  # mvhd is a fixed small box; fields sit after an 8-byte header
                    and data[cpos + 4 : cpos + 8] == b"mvhd"
                    and cpos + 28 <= end
                ):
                    version = data[cpos + 8]
                    if version == 0:
                        timescale = int.from_bytes(data[cpos + 20 : cpos + 24], "big")
                        duration = int.from_bytes(data[cpos + 24 : cpos + 28], "big")
                        if timescale:
                            duration_s = duration / timescale
                cpos += csize
        pos += size
    return {
        "mime": "video/mp4",
        "brand": brand,
        "duration_s": duration_s,
        "n_bytes": len(data),
    }


def with_video_meta(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Append typed container metadata to a binary video column. MP4/ISO-BMFF
    header fields are REAL without any media library; other content gets a
    labeled deterministic fake (same contract as ``with_image_meta``)."""
    if "meta" in df.columns:
        raise ValueError(
            "input already carries a 'meta' column (a prior *_meta op not "
            "dropped?); rename or drop it first — a duplicate field name "
            "mis-binds the Arrow batch columns"
        )
    out_schema = T.StructType(df.schema.fields + [T.StructField("meta", video_meta_struct)])

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        missing = {"mime": "video/missing", "brand": None, "duration_s": None, "n_bytes": None}

        def meta_of(b) -> dict:
            data = _as_bytes(b)  # bind once: the payload can be megabytes
            if data is None:
                return missing
            return _parse_mp4_meta(data) or {
                "mime": "video/fake",
                "brand": None,
                "duration_s": float(len(data)) / 1e6,
                "n_bytes": len(data),
            }

        for pdf in batches:
            pdf = pdf.copy()
            pdf["meta"] = [meta_of(b) for b in pdf[content_col]]
            yield pdf

    return df.mapInPandas(op, schema=out_schema)


def sample_video_frames(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "video_id",
    n_frames: int = 4,
    frame_dim: int = 8,
) -> DataFrame:
    """Frame-sampling stub: one row per sampled frame with a feature vector —
    the explode-shaped op a video pipeline needs (ffmpeg decode stubbed).

    Output: (id, frame_index int, frame_features array<float>).
    """
    out_schema = T.StructType(
        [
            # the caller's id type, verbatim — a string/uuid id pinned to
            # LongType fails deep inside mapInPandas at Arrow conversion
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("frame_features", T.ArrayType(T.FloatType())),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, feats = [], [], []
            for vid, b in zip(pdf[id_col], pdf[content_col]):
                data = _as_bytes(b)
                if data is None:
                    continue  # NULL content → no frames (explode-shaped op)
                raw = _md5_ints(data, n_frames * frame_dim)
                for i in range(n_frames):
                    ids.append(vid)
                    idxs.append(i)
                    feats.append(
                        np.array(raw[i * frame_dim : (i + 1) * frame_dim], dtype=np.float32)
                        / 256.0
                    )
            if ids:  # an all-NULL batch yields nothing — an empty pandas
                # frame's columns default to float64, which Arrow cannot
                # convert to the declared list<float>/struct fields
                yield pd.DataFrame(
                    {id_col: ids, "frame_index": idxs, "frame_features": feats}
                )

    return df.mapInPandas(op, schema=out_schema)


audio_meta_struct = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)


def _parse_wav_header(data: bytes) -> dict | None:
    """REAL (pure-python) WAV metadata via a RIFF chunk walk: after the
    12-byte RIFF/WAVE preamble, chunks are [ckId 4][ckSize u32 LE][payload,
    padded to even]. Real recordings routinely carry LIST/INFO, fact, or
    extensible-fmt chunks between fmt and data — a fixed-offset read (fmt at
    12, data at exactly 36) silently rejected those and handed a perfectly
    parseable file fabricated fallback metadata; the walk finds fmt and data
    wherever they sit (the audio analogue of ``_parse_jpeg_sof``'s marker
    walk)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos, fmt = 12, None
    while pos + 8 <= len(data):
        ck_id = data[pos : pos + 4]
        ck_size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = pos + 8
        if ck_id == b"fmt " and ck_size >= 16 and body + 16 <= len(data):
            fmt = {
                # fmt payload: format u16 | channels u16 | rate u32 |
                # byte_rate u32 | block_align u16 | bits u16
                "n_channels": int.from_bytes(data[body + 2 : body + 4], "little"),
                "sample_rate": int.from_bytes(data[body + 4 : body + 8], "little"),
                "block_align": int.from_bytes(data[body + 12 : body + 14], "little"),
                "bits": int.from_bytes(data[body + 14 : body + 16], "little"),
            }
        elif ck_id == b"data" and fmt is not None:
            break
        # chunk payloads pad to even length (RIFF spec); ckSize excludes pad
        pos = body + ck_size + (ck_size & 1)
    else:
        return None  # no (fmt, data) pair found
    n_channels = fmt["n_channels"]
    sample_rate = fmt["sample_rate"]
    # a u32 sample rate beyond int32 is not a real audio format (spec
    # rates top out in the hundreds of kHz) — and it would overflow the
    # IntegerType meta column; reject the header as undecodable
    if sample_rate > 0x7FFFFFFF:
        return None
    block_align = fmt["block_align"]
    bits = fmt["bits"]
    # clamp the declared data size to the bytes actually present so a
    # truncated file doesn't report inflated n_samples/duration_s
    data_size = min(ck_size, max(0, len(data) - body))
    # the fmt chunk's own block-align is the authoritative frame size
    # (bits not divisible by 8 pad up to whole container bytes); fall
    # back to the ceil-computed size when the field is zeroed out
    bytes_per_frame = block_align or max(1, n_channels * ((max(bits, 8) + 7) // 8))
    n_samples = data_size // bytes_per_frame
    return {
        "mime": "audio/wav",
        "sample_rate": sample_rate,
        "n_samples": n_samples,
        "duration_s": n_samples / sample_rate if sample_rate else 0.0,
    }


def audio_chunk_energy(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "audio_id",
    n_chunks: int = 8,
) -> DataFrame:
    """Audio op stub: binary → per-chunk energy profile + typed metadata.

    Real body: decode (soundfile/ffmpeg) → RMS per fixed-length chunk. FAKE:
    chunk the raw bytes and use mean byte value as 'energy' — deterministic,
    same output shape. One row per (audio, chunk). WAV header fields are
    REAL without any library (``_parse_wav_header``); only non-WAV content
    falls back to the deterministic fake metadata."""
    out_schema = T.StructType(
        [
            # the caller's id type, verbatim — a string/uuid id pinned to
            # LongType fails deep inside mapInPandas at Arrow conversion
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("meta", audio_meta_struct),
            T.StructField("chunk_index", T.IntegerType()),
            T.StructField("energy", T.DoubleType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, metas, idxs, energies = [], [], [], []
            for aid, b in zip(pdf[id_col], pdf[content_col]):
                data = _as_bytes(b)
                if data is None:
                    continue  # NULL content → no chunks (explode-shaped op)
                meta = _parse_wav_header(data) or {
                    "mime": "audio/fake",
                    "sample_rate": 16000,
                    "n_samples": len(data),
                    "duration_s": len(data) / 16000.0,
                }
                step = max(1, len(data) // n_chunks)
                for i in range(n_chunks):
                    chunk = data[i * step : (i + 1) * step] or b"\x00"
                    ids.append(aid)
                    metas.append(meta)
                    idxs.append(i)
                    energies.append(float(sum(chunk)) / len(chunk))
            if ids:  # see sample_video_frames: empty frames break Arrow
                yield pd.DataFrame(
                    {id_col: ids, "meta": metas, "chunk_index": idxs, "energy": energies}
                )

    return df.mapInPandas(op, schema=out_schema)


def documents_as_binary(docs: DataFrame) -> DataFrame:
    """Adapter for fixtures: treat document text bytes as fake image content
    so the multimodal plumbing can run against the driver's tables."""
    return docs.select(
        F.col("doc_id").alias("image_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )

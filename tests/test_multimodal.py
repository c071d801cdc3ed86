"""Multimodal plumbing tests: schemas, batch shapes, determinism (decode
itself is a documented deterministic stub — see operators/multimodal.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crystal_parquet_database_spark.operators import multimodal as M
from crystal_parquet_database_spark.operators.similarity import cosine_topk
from crystal_parquet_database_spark.tables import load_table


try:  # real-decode branch only reachable where the library exists
    import PIL  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False


@pytest.fixture(scope="module")
def binary_df(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    return M.documents_as_binary(docs)


def _tiny_png(width: int = 1, height: int = 1) -> bytes:
    """Hand-author a minimal valid 8-bit grayscale PNG from struct-packed
    bytes — no imaging library needed, so the REAL decode branch can be
    exercised wherever PIL happens to exist."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x7f" * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decode_meta_png_metadata_always_real():
    # Runs in EVERY container: with PIL this is the full decode; without it
    # the vendored IHDR parse reads the same header fields. Either way PNG
    # width/height are REAL values, not the fake.
    meta = M._decode_meta(_tiny_png(3, 2))
    assert meta["mime"] == "image/png"
    assert (meta["width"], meta["height"]) == (3, 2)
    assert meta["n_bytes"] == len(_tiny_png(3, 2))


def test_decode_meta_non_image_bytes():
    # Non-PNG bytes must not crash the job: PIL marks them undecodable, the
    # no-PIL path falls back to the labeled deterministic fake.
    bad = M._decode_meta(b"definitely not an image")
    if _HAS_PIL:
        assert bad["mime"] == "image/undecodable"
        assert bad["width"] is None
    else:
        assert bad["mime"] == "image/fake"
        assert 16 <= bad["width"] < 256 and 16 <= bad["height"] < 256
        assert bad == M._decode_meta(b"definitely not an image")  # deterministic
    assert bad["n_bytes"] == 23


def test_decode_meta_reports_what_it_marks_undecodable(monkeypatch, capsys):
    """The full-decode path marks bytes its decoder rejects and writes one
    stderr line with the MIME guess and the exception (a stand-in PIL here,
    so the path runs with or without the library)."""
    import sys
    import types

    def reject(_stream):
        raise OSError("cannot identify image file")

    fake = types.ModuleType("PIL")
    fake.Image = types.SimpleNamespace(open=reject, MIME={})
    monkeypatch.setitem(sys.modules, "PIL", fake)
    meta = M._decode_meta(b"definitely not an image", use_pil=True)
    assert meta == {"mime": "image/undecodable", "width": None, "height": None, "n_bytes": 23}
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1
    assert "image/unknown" in err[0] and "OSError: cannot identify image file" in err[0]


def test_parse_png_ihdr_rejects_close_misses():
    assert M._parse_png_ihdr(b"") is None
    assert M._parse_png_ihdr(M._PNG_SIG) is None  # signature but no IHDR
    truncated = _tiny_png(5, 7)[:20]
    assert M._parse_png_ihdr(truncated) is None
    assert M._parse_png_ihdr(_tiny_png(5, 7))["width"] == 5


def test_with_image_meta_schema_and_values(binary_df):
    out = M.with_image_meta(binary_df)
    assert out.schema["meta"].dataType == M.image_meta_struct
    rows = out.collect()
    assert len(rows) == 50
    for r in rows:
        # fake branch decodes anything; the real branch marks text bytes
        # undecodable — either way the job never crashes
        assert r["meta"]["mime"] == ("image/undecodable" if _HAS_PIL else "image/fake")
        if not _HAS_PIL:
            assert 16 <= r["meta"]["width"] < 256
        assert r["meta"]["n_bytes"] == len(r["content"])


def test_image_features_shape_and_determinism(spark, binary_df):
    out = M.image_features(binary_df, dim=16)
    rows1 = {r["image_id"]: list(r["features"]) for r in out.collect()}
    rows2 = {r["image_id"]: list(r["features"]) for r in M.image_features(binary_df, dim=16).collect()}
    assert rows1 == rows2  # deterministic across runs
    assert all(len(v) == 16 for v in rows1.values())
    assert all(0.0 <= x < 1.0 for v in rows1.values() for x in v)
    # repartitioning must not change values (stable at any parallelism)
    rows3 = {
        r["image_id"]: list(r["features"])
        for r in M.image_features(binary_df.repartition(7), dim=16).collect()
    }
    assert rows1 == rows3


def test_features_feed_similarity_search(spark, binary_df):
    feats = M.image_features(binary_df, dim=16)
    q = feats.filter(F.col("image_id") < 3)
    topk = cosine_topk(q, feats, "image_id", "features", k=5)
    got = topk.groupBy("query_id").count().collect()
    assert {r["query_id"] for r in got} == {0, 1, 2}
    assert all(r["count"] == 5 for r in got)


def test_resize_keeps_schema_changes_content(binary_df):
    out = M.resize_images(binary_df, width=8, height=8)
    assert out.schema == binary_df.schema
    r = out.collect()[0]
    assert len(r["content"]) == 64


def test_audio_chunk_energy_shape(binary_df):
    audio = binary_df.withColumnRenamed("image_id", "audio_id")
    out = M.audio_chunk_energy(audio, n_chunks=8)
    rows = out.collect()
    assert len(rows) == 50 * 8
    r = rows[0]
    assert r["meta"]["mime"] == "audio/fake" and r["meta"]["sample_rate"] == 16000
    assert 0.0 <= r["energy"] <= 255.0


def test_sample_video_frames_explodes(binary_df):
    vids = binary_df.withColumnRenamed("image_id", "video_id")
    out = M.sample_video_frames(vids, n_frames=4, frame_dim=8)
    rows = out.collect()
    assert len(rows) == 50 * 4
    assert {r["frame_index"] for r in rows} == {0, 1, 2, 3}
    assert all(len(r["frame_features"]) == 8 for r in rows)


def _tiny_wav(sample_rate: int = 8000, n_samples: int = 16) -> bytes:
    """Hand-authored canonical 16-bit mono PCM WAV (44-byte header + data)."""
    data = bytes(2 * n_samples)  # silence
    hdr = (
        b"RIFF"
        + (36 + len(data)).to_bytes(4, "little")
        + b"WAVE"
        + b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")            # PCM
        + (1).to_bytes(2, "little")            # mono
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * 2).to_bytes(4, "little")  # byte rate
        + (2).to_bytes(2, "little")            # block align
        + (16).to_bytes(2, "little")           # bits/sample
        + b"data"
        + len(data).to_bytes(4, "little")
    )
    return hdr + data


def test_parse_wav_header_real_fields():
    meta = M._parse_wav_header(_tiny_wav(8000, 16))
    assert meta == {
        "mime": "audio/wav",
        "sample_rate": 8000,
        "n_samples": 16,
        "duration_s": 16 / 8000,
    }
    # close misses fall through to the fake path
    assert M._parse_wav_header(b"") is None
    assert M._parse_wav_header(b"RIFFxxxxWAVE" + b"\x00" * 40) is None
    assert M._parse_wav_header(_tiny_wav()[:40]) is None


def test_audio_chunk_energy_real_wav_meta(spark):
    wav = _tiny_wav(8000, 64)
    df = spark.createDataFrame([(1, bytearray(wav)), (2, bytearray(b"not audio"))],
                               "audio_id long, content binary")
    rows = {r["audio_id"]: r for r in M.audio_chunk_energy(df).collect()}
    assert rows[1]["meta"]["mime"] == "audio/wav"
    assert rows[1]["meta"]["sample_rate"] == 8000
    assert rows[1]["meta"]["n_samples"] == 64
    assert rows[2]["meta"]["mime"] == "audio/fake"


def _tiny_mp4(brand: bytes = b"isom", timescale: int = 1000, duration: int = 2500) -> bytes:
    def box(btype: bytes, payload: bytes) -> bytes:
        return (8 + len(payload)).to_bytes(4, "big") + btype + payload

    ftyp = box(b"ftyp", brand + (0).to_bytes(4, "big") + brand)
    mvhd = box(
        b"mvhd",
        bytes(1)            # version 0
        + bytes(3)          # flags
        + bytes(8)          # creation + modification
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + bytes(80),        # rate/volume/matrix/... padding
    )
    moov = box(b"moov", mvhd)
    return ftyp + moov


def test_parse_mp4_meta_real_fields():
    meta = M._parse_mp4_meta(_tiny_mp4(b"mp42", 1000, 2500))
    assert meta["mime"] == "video/mp4"
    assert meta["brand"] == "mp42"
    assert meta["duration_s"] == 2.5
    assert M._parse_mp4_meta(b"not a video at all") is None
    assert M._parse_mp4_meta(b"") is None


def test_with_video_meta_mixed_content(spark):
    df = spark.createDataFrame(
        [(1, bytearray(_tiny_mp4())), (2, bytearray(b"random bytes"))],
        "video_id long, content binary",
    )
    rows = {r["video_id"]: r["meta"] for r in M.with_video_meta(df).collect()}
    assert rows[1]["mime"] == "video/mp4" and rows[1]["brand"] == "isom"
    assert rows[1]["duration_s"] == 2.5
    assert rows[2]["mime"] == "video/fake" and rows[2]["brand"] is None


def _tiny_jpeg(width: int = 12, height: int = 9) -> bytes:
    """Hand-authored minimal JPEG marker stream: SOI, APP0(JFIF), DQT stub,
    SOF0 frame header, SOS, EOI — enough for the SOFn walk to find
    dimensions."""
    import struct

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (2 + len(payload)).to_bytes(2, "big") + payload

    app0 = seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xDB, bytes(65))
    sof0 = seg(0xC0, struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00")
    sos = seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
    return b"\xff\xd8" + app0 + dqt + sof0 + sos + b"\xff\xd9"


def _tiny_gif(width: int = 7, height: int = 5) -> bytes:
    return (
        b"GIF89a"
        + width.to_bytes(2, "little")
        + height.to_bytes(2, "little")
        + b"\x00\x00\x00"  # no GCT, bg, aspect
        + b"\x3b"          # trailer
    )


def test_parse_jpeg_sof_real_fields():
    meta = M._parse_jpeg_sof(_tiny_jpeg(12, 9))
    assert meta == {"mime": "image/jpeg", "width": 12, "height": 9,
                    "n_bytes": len(_tiny_jpeg(12, 9))}
    # progressive JPEG uses SOF2 — same frame-header layout
    prog = _tiny_jpeg(640, 480).replace(b"\xff\xc0", b"\xff\xc2")
    assert M._parse_jpeg_sof(prog)["width"] == 640
    assert M._parse_jpeg_sof(b"") is None
    assert M._parse_jpeg_sof(b"\xff\xd8\xff\xd9") is None  # SOI then EOI, no SOF
    assert M._parse_jpeg_sof(b"not a jpeg") is None


def test_parse_gif_header_real_fields():
    assert M._parse_gif_header(_tiny_gif(7, 5)) == {
        "mime": "image/gif", "width": 7, "height": 5, "n_bytes": len(_tiny_gif(7, 5))
    }
    assert M._parse_gif_header(b"GIF89a") is None  # truncated descriptor
    assert M._parse_gif_header(b"GIF00a" + bytes(8)) is None


def test_decode_meta_jpeg_gif_metadata_real():
    """JPEG/GIF join PNG in the always-real metadata branch — no PIL needed."""
    assert M._decode_meta(_tiny_jpeg(12, 9))["mime"] == "image/jpeg"
    assert M._decode_meta(_tiny_gif(7, 5))["width"] == 7


def test_parse_wav_header_clamps_truncated_data():
    """A truncated WAV (header claims more data bytes than present) must not
    report inflated n_samples/duration_s."""
    wav = _tiny_wav(8000, 64)
    truncated = wav[: 44 + 2 * 16]  # only 16 of the claimed 64 samples remain
    meta = M._parse_wav_header(truncated)
    assert meta["n_samples"] == 16
    assert meta["duration_s"] == 16 / 8000


def test_parse_mp4_largesize_and_size_zero_boxes():
    """size==1 means 64-bit largesize (big mdat); size==0 means box-to-EOF —
    both are legal and must not stop the walk before moov."""
    mp4 = _tiny_mp4(b"isom", 1000, 4000)
    ftyp, moov = mp4[:20], mp4[20:]  # ftyp box = 8 hdr + 12 payload
    assert ftyp[4:8] == b"ftyp" and moov[4:8] == b"moov"
    payload = b"\x00" * 32
    largesize_mdat = (
        (1).to_bytes(4, "big") + b"mdat" + (16 + len(payload)).to_bytes(8, "big") + payload
    )
    meta = M._parse_mp4_meta(ftyp + largesize_mdat + moov)
    assert meta["duration_s"] == 4.0
    # size==0 final box must not loop forever or crash
    tail_box = (0).to_bytes(4, "big") + b"free" + b"\x00" * 8
    meta2 = M._parse_mp4_meta(ftyp + moov + tail_box)
    assert meta2["duration_s"] == 4.0


def test_image_header_real_query_parses_all_three_formats(spark, sf_dir):
    """The driver-checked header query: every row parses as a REAL format
    (no image/fake fallback) with the dimensions its bytes were built from."""
    from crystal_parquet_database_spark.surface import QUERIES

    rows = QUERIES["multimodal_image_header_real"](spark, sf_dir).collect()
    mimes = {r["mime"] for r in rows}
    assert mimes == {"image/png", "image/jpeg", "image/gif"}
    for r in rows:
        assert 1 <= r["width"] <= 200 and 1 <= r["height"] <= 150
        assert r["image_id"] % 3 == {"image/png": 0, "image/jpeg": 1, "image/gif": 2}[r["mime"]]


def test_parse_mp4_moov_itself_largesize(spark=None):
    """A moov box written with size==1 + 64-bit largesize has its children
    start at pos+16; the walk must still find mvhd."""
    mp4 = _tiny_mp4(b"isom", 1000, 3000)
    ftyp, moov = mp4[:20], mp4[20:]
    assert moov[4:8] == b"moov"
    payload = moov[8:]
    large_moov = (
        (1).to_bytes(4, "big") + b"moov" + (16 + len(payload)).to_bytes(8, "big") + payload
    )
    meta = M._parse_mp4_meta(ftyp + large_moov)
    assert meta["duration_s"] == 3.0


def test_null_content_marks_not_crashes(spark):
    """A NULL binary cell (a failed-upload row) must not abort the job: the
    per-row ops mark it (missing meta / NULL features / NULL content) and the
    explode-shaped ops simply emit nothing for it."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("image_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    df = spark.createDataFrame([(1, b"some real bytes"), (2, None)], schema)

    metas = {r["image_id"]: r["meta"] for r in M.with_image_meta(df).collect()}
    assert metas[2]["mime"] == "image/missing" and metas[2]["n_bytes"] is None
    assert metas[1]["mime"] != "image/missing"

    feats = {r["image_id"]: r["features"] for r in M.image_features(df).collect()}
    assert feats[2] is None and feats[1] is not None

    resized = {r["image_id"]: r["content"] for r in M.resize_images(df).collect()}
    assert resized[2] is None and resized[1] is not None

    vdf = df.withColumnRenamed("image_id", "video_id")
    vmetas = {r["video_id"]: r["meta"] for r in M.with_video_meta(vdf).collect()}
    assert vmetas[2]["mime"] == "video/missing"

    frames = M.sample_video_frames(vdf).collect()
    assert {r["video_id"] for r in frames} == {1}

    adf = df.withColumnRenamed("image_id", "audio_id")
    chunks = M.audio_chunk_energy(adf).collect()
    assert {r["audio_id"] for r in chunks} == {1}


def test_parse_wav_header_honors_block_align():
    """Frame size comes from the fmt chunk's block-align field: 12-bit mono
    PCM pads each sample to 2 container bytes, so n_samples must halve
    relative to the naive bits//8 reading."""
    import struct

    def wav(bits: int, block_align: int, n_data: int) -> bytes:
        hdr = b"RIFF" + struct.pack("<I", 36 + n_data) + b"WAVE"
        fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000 * block_align, block_align, bits)
        return hdr + fmt + b"data" + struct.pack("<I", n_data) + b"\x00" * n_data

    meta = M._parse_wav_header(wav(bits=12, block_align=2, n_data=64))
    assert meta is not None and meta["n_samples"] == 32
    # zeroed block-align falls back to the byte-ceil of the bit depth
    meta2 = M._parse_wav_header(wav(bits=12, block_align=0, n_data=64))
    assert meta2 is not None and meta2["n_samples"] == 32


def test_parse_png_rejects_out_of_int32_dimensions():
    """Regression: a corrupt/adversarial IHDR declaring a u32 dimension past
    2^31-1 (invalid per PNG spec anyway) used to flow into the IntegerType
    meta column, where Arrow either aborts the batch or wraps negative.
    It must read as not-a-PNG instead."""
    good = _tiny_png(5, 7)
    bad_w = good[:16] + (0x90000000).to_bytes(4, "big") + good[20:]
    bad_h = good[:20] + (0x90000000).to_bytes(4, "big") + good[24:]
    zero_w = good[:16] + (0).to_bytes(4, "big") + good[20:]
    assert M._parse_png_ihdr(bad_w) is None
    assert M._parse_png_ihdr(bad_h) is None
    assert M._parse_png_ihdr(zero_w) is None
    assert M._parse_png_ihdr(good)["width"] == 5  # sanity: fix didn't overtighten


def test_parse_wav_rejects_out_of_int32_sample_rate():
    wav = bytearray(_tiny_wav(8000, 16))
    wav[24:28] = (3_000_000_000).to_bytes(4, "little")
    assert M._parse_wav_header(bytes(wav)) is None


def test_parse_wav_walks_non_canonical_chunk_layouts():
    """Regression (round-7 review): real recordings routinely carry
    LIST/INFO, fact, or extensible-fmt chunks between fmt and data; the old
    fixed-offset parse (fmt at 12, data at exactly 36) rejected them and the
    caller fabricated fake metadata (sample_rate 16000) for a perfectly
    parseable file. The RIFF chunk walk must find fmt/data wherever they
    sit, honor the even-byte chunk padding, and still reject files with no
    (fmt, data) pair."""
    import struct

    def riff(chunks: list[bytes]) -> bytes:
        body = b"".join(chunks)
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    def fmt_chunk(rate=16000, ch=1, ba=2, bits=16, extra=b"") -> bytes:
        payload = struct.pack("<HHIIHH", 1, ch, rate, rate * ba, ba, bits) + extra
        return b"fmt " + struct.pack("<I", len(payload)) + payload

    def data_chunk(n: int) -> bytes:
        return b"data" + struct.pack("<I", n) + b"\x00" * n

    lst = b"LIST" + struct.pack("<I", 10) + b"INFOabcdef"
    meta = M._parse_wav_header(riff([fmt_chunk(), lst, data_chunk(320)]))
    assert meta is not None and meta["sample_rate"] == 16000
    assert meta["n_samples"] == 160 and meta["mime"] == "audio/wav"
    # extensible fmt: cbSize tail past the 16 core payload bytes
    ext = fmt_chunk(48000, 2, 4, 16, extra=b"\x16\x00" + b"\x00" * 22)
    meta = M._parse_wav_header(riff([ext, data_chunk(48)]))
    assert meta is not None and meta["sample_rate"] == 48000 and meta["n_samples"] == 12
    # odd-sized chunk pads to even (RIFF spec) — the walk must not derail
    odd = b"fact" + struct.pack("<I", 3) + b"abc\x00"
    meta = M._parse_wav_header(riff([fmt_chunk(8000), odd, data_chunk(8)]))
    assert meta is not None and meta["n_samples"] == 4
    # fmt but no data chunk → undecodable, not fabricated
    assert M._parse_wav_header(riff([fmt_chunk()])) is None


def test_parse_jpeg_rejects_sof_with_undersized_segment():
    """Regression (round-7 review): an SOF marker declaring seg_len in [2,6]
    does not cover the dimension fields — the old guard only checked
    pos+9 <= len(data), so width/height were read from the NEXT segment's
    bytes and returned as authoritative metadata."""
    import struct

    bad = (
        b"\xff\xd8"
        + b"\xff\xc0"
        + struct.pack(">H", 4)  # declared segment ends before height/width
        + b"\x08\x01"
        + b"\xff\xda"
        + b"\x00" * 8
    )
    assert M._parse_jpeg_sof(bad) is None
    assert M._parse_wav_header(_tiny_wav(8000, 16))["sample_rate"] == 8000


def test_parse_mp4_moov_child_largesize_before_mvhd():
    """Regression: a moov CHILD with a 64-bit largesize header (legal
    ISO-BMFF) used to abort the child walk — `csize==1 < 8` — before a
    later spec-valid mvhd, silently dropping duration."""
    mp4 = _tiny_mp4(b"isom", 1000, 5000)
    ftyp, moov = mp4[:20], mp4[20:]
    assert moov[4:8] == b"moov"
    mvhd_payload = moov[8:]  # the original mvhd child box
    big_child = (
        (1).to_bytes(4, "big") + b"udta" + (24).to_bytes(8, "big") + b"\x00" * 8
    )  # 16-byte header + 8 payload = declared largesize 24
    children = big_child + mvhd_payload
    moov2 = (8 + len(children)).to_bytes(4, "big") + b"moov" + children
    meta = M._parse_mp4_meta(ftyp + moov2)
    assert meta["duration_s"] == 5.0
    # and a size==0 (to-end-of-parent) child before mvhd hides it — but
    # must terminate cleanly, not loop or crash
    zero_child = (0).to_bytes(4, "big") + b"free" + b"\x00" * 4
    moov3 = (8 + len(zero_child) + len(mvhd_payload)).to_bytes(4, "big") + b"moov" + zero_child + mvhd_payload
    meta3 = M._parse_mp4_meta(ftyp + moov3)
    assert meta3["duration_s"] is None  # swallowed by the to-end child, by spec


def test_jpeg_dnl_zero_height_routes_to_fallback():
    """SOF height 0 is spec-valid (real height arrives via DNL) — never
    report 0 as a decoded dimension."""
    from crystal_parquet_database_spark.operators.multimodal import _parse_jpeg_sof

    sof = b"\xff\xc0" + (8 + 3 * 1 + 3).to_bytes(2, "big") + bytes([8]) + (0).to_bytes(2, "big") + (17).to_bytes(2, "big") + bytes([1, 0x11, 0, 0, 0])
    data = b"\xff\xd8" + sof + b"\xff\xd9"
    assert _parse_jpeg_sof(data) is None


def test_with_image_meta_rejects_existing_meta(spark):
    import pytest as _pytest

    from crystal_parquet_database_spark.operators.multimodal import with_image_meta

    df = spark.createDataFrame([(1, b"x", "old")], "image_id long, content binary, meta string")
    with _pytest.raises(ValueError, match="already carries a 'meta'"):
        with_image_meta(df)


def test_image_features_preserves_string_id_type(spark):
    from crystal_parquet_database_spark.operators.multimodal import image_features

    df = spark.createDataFrame(
        [("uuid-1", bytes([137, 80, 78, 71, 13, 10, 26, 10]) + (0).to_bytes(4, "big"))],
        "image_id string, content binary",
    )
    out = image_features(df, id_col="image_id")
    assert dict(out.dtypes)["image_id"] == "string"
    out.collect()  # Arrow conversion must not abort on the string id

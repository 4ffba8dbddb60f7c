"""Multimodal plumbing + salted-skew aggregation tests."""
import pandas as pd
import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (0, b"\x89PNG\r\n\x1a\n" + bytes(range(200))),
        (1, b"\xff\xd8\xff\xe0" + bytes(200)),
        (2, b"RIFF" + bytes(4) + b"WAVEfmt " + bytes(64)),
        (3, b"\x00\x00\x00\x18ftypmp42" + bytes(400)),
        (4, b"garbage-bytes-here"),
    ]
    return spark.createDataFrame(rows, "id long, media binary")


def test_media_meta(spark, media):
    from document_extractor_spark.operators.multimodal import (
        media_meta_table,
    )

    got = media_meta_table(media).toPandas().set_index("id")
    assert got.loc[0, "kind"] == "image/png"
    assert got.loc[1, "kind"] == "image/jpeg"
    assert got.loc[2, "kind"] == "audio/wav"
    assert got.loc[3, "kind"] == "video/mp4"
    assert got.loc[4, "kind"] == "binary/unknown"
    # magic matches but headers are garbage: the REAL parsers return
    # None instead of fabricating dimensions/durations
    assert pd.isna(got.loc[0, "width"])
    assert pd.isna(got.loc[2, "duration_ms"])
    # well-formed headers parse for real: see
    # test_media_meta_real_header_parsing


def test_tiff_ifd_walk_edges():
    """TIFF IFD walker: both byte orders, SHORT and LONG dim types,
    truncated chains, cycles, and header-only payloads all degrade
    instead of raising (reference E7 contract: pass_img.py:106-129
    seeks frames defensively)."""
    import struct

    from document_extractor_spark.operators.multimodal import (
        _sniff_media_kind,
        _tiff_frames,
        build_tiff,
    )

    t = build_tiff([(10, 20), (30, 40)])
    assert _sniff_media_kind(t) == "image/tiff"
    assert _tiff_frames(t) == [(10, 20), (30, 40)]
    tb = build_tiff([(7, 9)], big_endian=True)
    assert _tiff_frames(tb) == [(7, 9)]
    # SHORT-typed dims (type 3, value left-justified in the 4 bytes)
    for bo, head in (("<", b"II*\x00"), (">", b"MM\x00*")):
        short_ifd = (
            head + struct.pack(f"{bo}I", 8)
            + struct.pack(f"{bo}H", 2)
            + struct.pack(f"{bo}HHI", 256, 3, 1)
            + struct.pack(f"{bo}H", 640) + bytes(2)
            + struct.pack(f"{bo}HHI", 257, 3, 1)
            + struct.pack(f"{bo}H", 480) + bytes(2)
            + struct.pack(f"{bo}I", 0))
        assert _tiff_frames(short_ifd) == [(640, 480)], bo
    # degradations
    assert _tiff_frames(b"II*\x00\x08\x00\x00\x00") == []  # truncated
    assert _tiff_frames(build_tiff([])) == []
    assert _tiff_frames(b"II*\x00") == []
    cyc = bytearray(build_tiff([(1, 2), (3, 4)]))
    cyc[-4:] = struct.pack("<I", 8)  # next-IFD points back at first
    assert _tiff_frames(bytes(cyc)) == [(1, 2), (3, 4)]
    # unknown dim type (RATIONAL) is skipped -> None dims, frame kept
    rat = (b"II*\x00" + struct.pack("<I", 8)
           + struct.pack("<H", 1)
           + struct.pack("<HHII", 256, 5, 1, 99)
           + struct.pack("<I", 0))
    assert _tiff_frames(rat) == [(None, None)]


def test_media_frames_explode(spark):
    """Per-frame explode: TIFF multi-frame -> n rows, PNG/JPEG -> one
    row, audio/garbage -> zero rows; frame indices are 1-based."""
    from document_extractor_spark.operators.multimodal import (
        build_png,
        build_tiff,
        build_wav,
        media_frame_table,
    )

    rows = [
        (0, build_tiff([(10, 20), (11, 21), (12, 22)])),
        (1, build_png(32, 48)),
        (2, build_wav(1)),
        (3, b"garbage"),
        (4, None),
    ]
    media = spark.createDataFrame(rows, "id long, media binary")
    got = media_frame_table(media).toPandas()
    t = got[got.id == 0].sort_values("frame")
    assert list(t.frame) == [1, 2, 3]
    assert list(t.width) == [10, 11, 12]
    assert list(t.n_frames) == [3, 3, 3]
    p = got[got.id == 1]
    assert len(p) == 1 and p.iloc[0].width == 32 and p.iloc[0].height == 48
    assert (got.id >= 2).sum() == 0  # audio/garbage/NULL emit nothing


def test_media_features_real_decode(spark):
    """PNG pixel and WAV PCM stats computed against the INDEPENDENT
    generation formulas (not the kernel's own parse); undecodable
    kinds yield NULL stats, never fabricated numbers."""
    import pandas as pd

    from document_extractor_spark.operators.multimodal import (
        build_mp4,
        build_png_full,
        build_wav_full,
        media_feature_table,
    )

    w, h, ns = 8, 4, 600
    rows = [(0, build_png_full(w, h)), (1, build_wav_full(ns)),
            (2, build_mp4(3)), (3, b"\xff\xd8\xff\xe0" + bytes(32)),
            (4, b"not-media")]
    media = spark.createDataFrame(rows, "id long, media binary")
    got = media_feature_table(media).toPandas().set_index("id")

    px = [(3 * x + 7 * y + 11 * c) % 256
          for y in range(h) for x in range(w) for c in range(3)]
    assert got.loc[0, "n_values"] == w * h * 3
    assert got.loc[0, "v_sum"] == sum(px)
    assert got.loc[0, "v_sqsum"] == sum(v * v for v in px)
    assert got.loc[0, "v_peak"] == max(px)

    sm = [((j * 2654435761) % 65536) - 32768 for j in range(ns)]
    assert got.loc[1, "n_values"] == ns
    assert got.loc[1, "v_sum"] == sum(sm)
    assert got.loc[1, "v_sqsum"] == sum(v * v for v in sm)
    assert got.loc[1, "v_peak"] == max(abs(v) for v in sm)

    for i in (2, 3, 4):  # mp4 / jpeg / unknown: explicit NULLs
        assert pd.isna(got.loc[i, "n_values"])
        assert pd.isna(got.loc[i, "v_sum"])


def test_wav_decode_matches_stdlib_wave():
    """Cross-check the RIFF walk against the stdlib wave module."""
    import io
    import wave

    import numpy as np

    from document_extractor_spark.operators.multimodal import (
        _wav_pcm_values, build_wav_full)

    payload = build_wav_full(1234, rate=16000)
    with wave.open(io.BytesIO(payload)) as wf:
        assert wf.getnchannels() == 1
        assert wf.getsampwidth() == 2
        assert wf.getframerate() == 16000
        ref = np.frombuffer(wf.readframes(wf.getnframes()), dtype="<i2")
    got = _wav_pcm_values(payload)
    assert np.array_equal(got, ref.astype(np.int64))


def test_png_defilter_all_filter_types():
    """Hand-build a grayscale PNG using every filter type (0-4) and
    check the defiltered pixels against the known image."""
    import struct
    import zlib

    import numpy as np

    from document_extractor_spark.operators.multimodal import (
        _png_pixel_values)

    w, h = 4, 5
    img = np.arange(w * h, dtype=np.int64).reshape(h, w) * 13 % 256

    def encode_row(y, ftype):
        cur = img[y]
        prior = img[y - 1] if y else np.zeros(w, dtype=np.int64)
        if ftype == 0:
            enc = cur
        elif ftype == 1:  # Sub
            enc = [(cur[x] - (cur[x - 1] if x else 0)) % 256
                   for x in range(w)]
        elif ftype == 2:  # Up
            enc = (cur - prior) % 256
        elif ftype == 3:  # Average
            enc = [(cur[x] - ((cur[x - 1] if x else 0) + prior[x]) // 2)
                   % 256 for x in range(w)]
        else:             # Paeth
            enc = []
            for x in range(w):
                a = cur[x - 1] if x else 0
                b = prior[x]
                c = img[y - 1][x - 1] if (y and x) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
                enc.append((cur[x] - pred) % 256)
        return bytes([ftype]) + bytes(int(v) for v in enc)

    raw = b"".join(encode_row(y, y % 5) for y in range(h))
    ihdr = struct.pack(">II5B", w, h, 8, 0, 0, 0, 0)  # grayscale

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    got = _png_pixel_values(payload)
    assert got is not None
    assert np.array_equal(got, img.reshape(-1))


def test_salted_agg_matches_plain(spark):
    """Salted two-phase aggregation must equal the plain groupBy."""
    from document_extractor_spark.operators.skew import salted_agg

    rows = [(f"key{i % 3}", float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, v double").repartition(8)
    salted = salted_agg(
        df, "k",
        {"n": ("count", "v"), "total": ("sum", "v"), "mx": ("max", "v")},
        salt_factor=8,
    ).toPandas().set_index("k").sort_index()
    plain = df.groupBy("k").agg(
        F.count("v").alias("n"), F.sum("v").alias("total"),
        F.max("v").alias("mx")).toPandas().set_index("k").sort_index()
    assert (salted.n == plain.n).all()
    assert (salted.total == plain.total).all()
    assert (salted.mx == plain.mx).all()


from document_extractor_spark.operators.multimodal import (  # noqa: E402
    build_mp4 as _mp4,
    build_png as _png,
    build_wav as _wav,
)


def _jpeg(w, h):
    import struct

    sof = struct.pack(">BHHB", 8, h, w, 3) + b"\x01\x11\x00" * 3
    return (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
            + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof)


def test_media_meta_real_header_parsing(spark):
    """Width/height/duration come from REAL header parsing — PNG IHDR,
    JPEG SOFn, WAV fmt/data chunks, MP4 mvhd — stdlib only."""
    from document_extractor_spark.operators.multimodal import (
        media_meta_table,
    )

    rows = [
        (1, _png(640, 480)),
        (2, _jpeg(1024, 768)),
        (3, _wav(7)),
        (4, _mp4(42)),
        (5, b"\x89PNG\r\n\x1a\x08garbled"),   # bad magic tail -> unknown
        (6, b"\x89PNG\r\n\x1a\n\x00\x00"),     # truncated -> None dims
    ]
    df = spark.createDataFrame(rows, "id long, media binary")
    got = media_meta_table(df).toPandas().set_index("id")

    assert (got.loc[1].kind, got.loc[1].width, got.loc[1].height) == \
        ("image/png", 640, 480)
    assert (got.loc[2].kind, got.loc[2].width, got.loc[2].height) == \
        ("image/jpeg", 1024, 768)
    assert (got.loc[3].kind, got.loc[3].duration_ms, got.loc[3].codec) == \
        ("audio/wav", 7000, "pcm16@8000")
    assert (got.loc[4].kind, got.loc[4].duration_ms) == ("video/mp4", 42000)
    assert got.loc[5].kind == "binary/unknown"
    assert got.loc[6].kind == "image/png"
    assert pd.isna(got.loc[6].width)  # truncated header -> no dims

"""Multimodal binary-column plumbing: schemas, Arrow batch shapes, and the
codec-free (JVM-native) metadata path."""

import pytest

from tests.conftest import SF_DIR
from tests.plan_walk import nodes, python_nodes


@pytest.fixture(scope="module")
def mm(spark):
    from spark_sentiment_spark.operators.multimodal import (
        attach_binary_content)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return attach_binary_content(docs)


def test_binary_schema(mm):
    types = dict(mm.dtypes)
    assert types["content"] == "binary"
    assert types["modality"] == "string"
    assert types["meta"].startswith("struct<n_bytes:")
    mods = {r[0] for r in mm.select("modality").distinct().collect()}
    assert mods <= {"image", "audio", "video"}


def test_fingerprints_native(mm, spark):
    from spark_sentiment_spark.operators.multimodal import (
        binary_fingerprints)

    fp = binary_fingerprints(mm)
    row = fp.orderBy("doc_id").first()
    assert len(row["sha256"]) == 64
    assert row["n_bytes"] > 0
    assert row["sniffed_mime"] == "application/octet-stream"
    # no Python in the plan: only project/scan nodes
    assert not python_nodes(nodes(fp))


def test_magic_byte_sniffing(spark):
    from spark_sentiment_spark.operators.multimodal import (
        binary_fingerprints)

    payloads = [
        (1, b"\x89PNG\r\n\x1a\nrest"),
        (2, b"\xff\xd8\xff\xe0jpeg"),
        (3, b"GIF89a...."),
        (4, b"RIFF....WAVE"),
        (5, b"plain text bytes"),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, content binary")
    got = {r["doc_id"]: r["sniffed_mime"]
           for r in binary_fingerprints(df).collect()}
    assert got == {1: "image/png", 2: "image/jpeg", 3: "image/gif",
                   4: "audio/wav", 5: "application/octet-stream"}


def test_decode_features_shape(mm):
    from spark_sentiment_spark.operators.multimodal import decode_features

    feats = decode_features(mm)
    assert dict(feats.dtypes) == {
        "doc_id": "bigint", "n_bytes": "bigint", "container": "string",
        "mean_byte": "double", "entropy_bits": "double",
        "width": "int", "height": "int"}
    row = feats.orderBy("doc_id").first()
    assert 0 <= row["mean_byte"] <= 255
    assert 0 <= row["entropy_bits"] <= 8
    assert 1 <= row["width"] <= 640 and 1 <= row["height"] <= 480
    assert feats.count() == mm.count()


# --- Real container-header parsing (native + Arrow twins) -------------------

def _png(w, h):
    return (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
            + w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + b"\x08\x06\x00\x00\x00" + b"\x00" * 8)


def _gif(w, h):
    return (b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + b"\xf7\x00\x00" + b"\x00" * 16)


def _bmp(w, h):
    # info-header dims are SIGNED int32 — negative height = top-down raster
    return (b"BM" + (26).to_bytes(4, "little") + b"\x00" * 4
            + (26).to_bytes(4, "little") + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + b"\x00" * 8)


def _wav(channels, rate):
    fmt = ((1).to_bytes(2, "little") + channels.to_bytes(2, "little")
           + rate.to_bytes(4, "little") + (rate * 2).to_bytes(4, "little")
           + (4).to_bytes(2, "little") + (16).to_bytes(2, "little"))
    return (b"RIFF" + (36).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little") + fmt
            + b"data" + (0).to_bytes(4, "little"))


def _jpeg(w, h):
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    dqt = b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00" * 65
    sof0 = (b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
            + b"\x00" * 9)
    return b"\xff\xd8" + app0 + dqt + sof0 + b"\xff\xd9"


HEADER_CASES = [
    (0, _png(640, 480), "png", 640, 480, None, None),
    (1, _gif(320, 200), "gif", 320, 200, None, None),
    (2, _bmp(1024, 768), "bmp", 1024, 768, None, None),
    (3, _wav(2, 44100), "wav", None, None, 2, 44100),
    (4, _jpeg(800, 600), "jpeg", None, None, None, None),  # native: scan n/a
    (5, b"just some text bytes", None, None, None, None, None),
    # top-down BMP: height stored as -768; both paths must report 768
    (6, _bmp(1024, -768), "bmp", 1024, 768, None, None),
]


def _binary_df(spark):
    return spark.createDataFrame(
        [(i, bytearray(b)) for i, b, *_ in HEADER_CASES],
        "doc_id long, content binary")


def test_header_metadata_native(spark):
    from spark_sentiment_spark.operators.multimodal import header_metadata

    out = {r["doc_id"]: r
           for r in header_metadata(_binary_df(spark)).collect()}
    for i, _, container, w, h, ch, rate in HEADER_CASES:
        r = out[i]
        assert r["container"] == container, (i, r)
        assert r["width"] == w and r["height"] == h, (i, r)
        assert r["channels"] == ch and r["sample_rate"] == rate, (i, r)


def test_header_metadata_is_pure_jvm(spark):
    from spark_sentiment_spark.operators.multimodal import header_metadata

    assert not python_nodes(nodes(header_metadata(_binary_df(spark))))


def test_parse_container_header_python_twin():
    from spark_sentiment_spark.operators.multimodal import \
        parse_container_header

    assert parse_container_header(_png(7, 9)) == {
        "container": "png", "width": 7, "height": 9}
    assert parse_container_header(_gif(3, 4)) == {
        "container": "gif", "width": 3, "height": 4}
    assert parse_container_header(_bmp(5, 6)) == {
        "container": "bmp", "width": 5, "height": 6}
    assert parse_container_header(_wav(1, 8000)) == {
        "container": "wav", "channels": 1, "sample_rate": 8000}
    # JPEG: the marker scan reaches SOF0 behind APP0+DQT segments
    assert parse_container_header(_jpeg(800, 600)) == {
        "container": "jpeg", "width": 800, "height": 600}
    assert parse_container_header(b"nope") is None


def test_wav_chunk_walk_non_canonical_order():
    """A LIST chunk before fmt — the walk must skip it (the fixed-offset
    native path correctly nulls out here, the Python twin still parses)."""
    from spark_sentiment_spark.operators.multimodal import \
        parse_container_header

    lst = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    fmt = ((1).to_bytes(2, "little") + (2).to_bytes(2, "little")
           + (48000).to_bytes(4, "little") + b"\x00" * 8)
    b = (b"RIFF" + (48).to_bytes(4, "little") + b"WAVE" + lst
         + b"fmt " + (16).to_bytes(4, "little") + fmt)
    assert parse_container_header(b) == {
        "container": "wav", "channels": 2, "sample_rate": 48000}


def test_decode_features_uses_real_headers(spark):
    """The Arrow decode path reports REAL dimensions for recognized
    containers (including JPEG via marker scan) and falls back to the
    labeled fake geometry only for unrecognized payloads."""
    from spark_sentiment_spark.operators.multimodal import decode_features

    out = {r["doc_id"]: r
           for r in decode_features(_binary_df(spark)).collect()}
    assert (out[0]["width"], out[0]["height"]) == (640, 480)
    assert (out[2]["width"], out[2]["height"]) == (1024, 768)
    assert (out[4]["width"], out[4]["height"]) == (800, 600)  # JPEG scan
    assert out[4]["container"] == "jpeg"
    assert out[5]["container"] is None
    n = len(b"just some text bytes")
    assert out[5]["width"] == 1 + (n % 640)  # fake geometry fallback


def test_attach_media_content_roundtrip(spark):
    """Natively-constructed containers parse back identically through BOTH
    the native header_metadata path and the Python/Arrow parser twin."""
    from spark_sentiment_spark.operators.multimodal import (
        attach_media_content, header_metadata, parse_container_header)

    docs = spark.createDataFrame(
        [(i, f"payload {i}") for i in range(12)], "doc_id long, text string")
    media = attach_media_content(docs)
    native = {r["doc_id"]: r for r in header_metadata(media).collect()}
    raw = {r["doc_id"]: bytes(r["content"]) for r in media.collect()}
    for i in range(12):
        py = parse_container_header(raw[i]) or {}
        r = native[i]
        assert r["container"] == py.get("container")
        if i % 3 == 0:
            assert r["container"] == "png"
            assert r["width"] == py["width"] == 64 + i % 512
            assert r["height"] == py["height"] == 48 + i % 256
        elif i % 3 == 1:
            assert r["container"] == "wav"
            assert r["channels"] == py["channels"] == 1 + i % 2
            assert r["sample_rate"] == py["sample_rate"] == 8000 + (i % 5) * 8000
        else:
            assert r["container"] == "mp4"


def test_ppm_construction_and_decode_roundtrip(spark):
    """The native PPM construction must byte-match an independent Python
    construction, and the mapInPandas decode must reproduce an independent
    numpy decode exactly — proving this path decodes REAL pixels."""
    import hashlib

    import numpy as np

    from spark_sentiment_spark.operators.multimodal import (
        PPM_BLOCKS, attach_ppm_content, decode_ppm_features)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    ppm = attach_ppm_content(docs)
    built = {r.doc_id: bytes(r.content) for r in ppm.collect()}

    def expect_bytes(did):
        w, h = 8 + did % 8, 8 + did % 4
        chain = b"".join(hashlib.md5(f"{did}:{k}".encode()).digest()
                         for k in range(PPM_BLOCKS))
        return (b"P6\n" + f"{w} {h}".encode() + b"\n255\n"
                + chain[:w * h * 3])

    for did, content in built.items():
        assert content == expect_bytes(did), did

    decoded = {r.doc_id: r for r in decode_ppm_features(ppm).collect()}
    for did, content in built.items():
        w, h = 8 + did % 8, 8 + did % 4
        px = (np.frombuffer(content, np.uint8,
                            count=w * h * 3,
                            offset=len(content) - w * h * 3)
              .reshape(h, w, 3).astype(np.float64))
        r = decoded[did]
        assert (r.width, r.height) == (w, h)
        want = px.mean(axis=(0, 1))
        assert abs(r.mean_r - want[0]) < 1e-9
        assert abs(r.mean_g - want[1]) < 1e-9
        assert abs(r.mean_b - want[2]) < 1e-9
        hh, ww = (h // 4) * 4, (w // 4) * 4
        pool = (px[:hh, :ww].reshape(4, hh // 4, 4, ww // 4, 3)
                .mean(axis=(1, 3)).round().clip(0, 255).astype(np.uint8))
        assert bytes(r.thumb) == pool.tobytes(), did


def test_wav_decode_matches_independent_implementation(spark):
    """The chunk-walk PCM decode must reproduce an independently computed
    RMS/peak/sample-count for the natively constructed WAV rows, and
    yield nulls for non-WAV modalities."""
    import numpy as np

    from spark_sentiment_spark.operators.multimodal import (
        attach_media_content, decode_wav_features)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .where("text IS NOT NULL").limit(60)
    media = attach_media_content(docs)
    raw = {r.doc_id: (r.modality, bytes(r.content))
           for r in media.collect()}
    got = {r.doc_id: r for r in decode_wav_features(media).collect()}

    n_wav = 0
    for did, (modality, content) in raw.items():
        r = got[did]
        if modality != "audio":
            assert r.channels is None and r.rms is None, did
            continue
        n_wav += 1
        ch = 1 + did % 2
        rate = 8000 + (did % 5) * 8000
        data_len = int.from_bytes(content[40:44], "little")
        pcm = np.frombuffer(content[44:44 + data_len - (data_len % 2)],
                            "<i2")
        assert r.channels == ch and r.sample_rate == rate, did
        assert r.n_samples == len(pcm) // ch, did
        want_rms = float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2))) \
            if len(pcm) else 0.0
        assert abs(r.rms - want_rms) < 1e-9, did
        assert r.peak == (int(np.abs(pcm).max()) if len(pcm) else 0), did
    assert n_wav > 0


def test_video_frame_sampling_matches_independent_decode(spark):
    """PPMV construction byte-matches an independent build; the sampled
    frames (stride 2 → frames 0,2,4) decode to the exact channel means."""
    import hashlib

    import numpy as np

    from spark_sentiment_spark.operators.multimodal import (
        VIDEO_FRAMES, VIDEO_H, VIDEO_W, _FRAME_BLOCKS, attach_ppm_video,
        sample_video_frames)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    vid = attach_ppm_video(docs)
    built = {r.doc_id: bytes(r.content) for r in vid.collect()}

    npix = VIDEO_W * VIDEO_H * 3
    header = b"P6\n" + f"{VIDEO_W} {VIDEO_H}".encode() + b"\n255\n"

    def frame_pixels(did, fr):
        chain = b"".join(hashlib.md5(f"{did}:f{fr}:{k}".encode()).digest()
                         for k in range(_FRAME_BLOCKS))
        return chain[:npix]

    for did, content in built.items():
        want = (b"PPMV" + VIDEO_FRAMES.to_bytes(4, "big")
                + b"".join(header + frame_pixels(did, fr)
                           for fr in range(VIDEO_FRAMES)))
        assert content == want, did

    sampled = sample_video_frames(vid).collect()
    by_key = {(r.doc_id, r.frame): r for r in sampled}
    assert set(fr for _, fr in by_key) == {0, 2, 4}
    for did in built:
        for fr in (0, 2, 4):
            px = (np.frombuffer(frame_pixels(did, fr), np.uint8)
                  .reshape(VIDEO_H, VIDEO_W, 3).astype(np.float64))
            want = px.mean(axis=(0, 1))
            r = by_key[(did, fr)]
            assert abs(r.mean_r - want[0]) < 1e-9
            assert abs(r.mean_g - want[1]) < 1e-9
            assert abs(r.mean_b - want[2]) < 1e-9


def test_phash_dedup_matches_brute_force(spark, query):
    """multimodal_phash_dedup (band-pruned) against an independent
    pure-Python construct→decode→hash→ALL-PAIRS hamming implementation:
    identical pair sets and distances. This doubles as the empirical
    losslessness proof of the 4x16-bit pigeonhole band filter at
    hamming <= 3."""
    import hashlib

    import numpy as np

    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in query("multimodal_phash_dedup").collect()}

    ids = [r["doc_id"] for r in spark.read.parquet(
        f"{SF_DIR}/documents.parquet").select("doc_id").collect()]

    def ahash(doc_id):
        raw = b"".join(hashlib.md5(f"g:{doc_id // 7}:{k}".encode()).digest()
                       for k in range(12))[:192]
        b = bytearray(raw)
        b[0] = (b[0] + 40 * (doc_id % 7)) % 256
        v = np.frombuffer(bytes(b), np.uint8).astype(np.int64)
        gray = (v[0::3] + v[1::3] + v[2::3]) // 3
        return (64 * gray > gray.sum()).astype(np.int64)

    hashes = {i: ahash(i) for i in ids}
    want = {}
    srt = sorted(ids)
    for ai, a in enumerate(srt):
        for b in srt[ai + 1:]:
            ham = int(np.sum(hashes[a] != hashes[b]))
            if ham <= 3:
                want[(a, b)] = ham
    assert got == want
    assert len(want) > 100   # the planted groups actually fire

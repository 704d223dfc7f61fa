"""Multimodal column support (SURVEY.md §7.4): image/audio/video as opaque
``binary`` columns with typed metadata, plus the Spark-side plumbing for
decode and feature extraction.

Container-header metadata is REAL parsing (no codec needed): PNG/GIF/BMP
dimensions and canonical-WAV rate/channels as native JVM expressions
(:func:`header_metadata`), plus JPEG SOF marker scan and WAV chunk walk on
the Arrow path (:func:`parse_container_header`) — all pinned against
hand-constructed real headers in tests/test_multimodal.py. Only the
pixel/sample *decode* of compressed formats in :func:`decode_features` is
a deterministic fake (byte statistics; no image/audio codec is a
dependency — a real deployment decodes with PIL/ffmpeg per batch inside
the same ``mapInPandas`` loop; schema, partitioning, UDF signature, and
Arrow batch shape are the real, tested part). Uncompressed P6 PPM and
PCM WAV are decoded for real.

Every operator reads and writes the catalog's fixed column names:
``doc_id`` and ``text`` from ``documents``, ``content`` for the payload.

Scale posture: binary payloads stay columnar end-to-end (Arrow batches in,
Arrow batches out — no per-row Python calls); metadata extraction that
doesn't need the codec (byte length, content hash, magic-byte sniffing) is
pure JVM Column expressions and never leaves Tungsten.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: magic-byte prefixes → mime label (sniffed natively via F.substring)
MAGIC_BYTES = (
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"RIFF", "audio/wav"),
    (b"ID3", "audio/mpeg"),
    (b"\x00\x00\x00", "video/mp4"),
)

THUMB = 4  # decode_ppm_features' thumbnail is THUMB×THUMB


def attach_binary_content(df: DataFrame) -> DataFrame:
    """Build a multimodal table from ``documents``: the text bytes stand in
    for an opaque media payload (deterministic), with typed metadata."""
    content = F.encode(F.col("text"), "UTF-8")
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"))
    return df.select(
        F.col("doc_id"),
        modality.alias("modality"),
        content.alias("content"),
        F.struct(
            F.length(content).alias("n_bytes"),
            F.lit("synthetic").alias("source"),
        ).alias("meta"),
    )


def binary_fingerprints(df: DataFrame) -> DataFrame:
    """Codec-free metadata: byte length, sha256, magic-byte mime sniff —
    all JVM-native Column expressions over the binary column."""
    content = F.col("content")
    mime = F.lit("application/octet-stream")
    for magic, label in reversed(MAGIC_BYTES):
        hexpat = magic.hex()
        mime = F.when(
            F.lower(F.hex(F.substring(content, 1, len(magic))))
            == F.lit(hexpat), label
        ).otherwise(mime)
    return df.select(
        F.col("doc_id"),
        F.length(content).cast("long").alias("n_bytes"),
        F.lower(F.sha2(content, 256)).alias("sha256"),
        mime.alias("sniffed_mime"),
    )


def decode_features(df: DataFrame) -> DataFrame:
    """Decode + feature-extract over ``mapInPandas``: Arrow batches of
    binary payloads → fixed-width feature rows. Container-header metadata
    (PNG/GIF/BMP/JPEG dimensions, WAV rate — `parse_container_header`) is
    REAL parsing; only the pixel/sample decode behind it is the
    deterministic fake (byte-histogram stats standing in for decoded
    content); a real deployment decodes inside the same loop."""
    import pandas as pd

    schema = ("doc_id long, n_bytes long, container string, "
              "mean_byte double, entropy_bits double, width int, height int")

    def extract(batches):
        import math

        for pdf in batches:
            rows = []
            for did, buf in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(buf)
                n = len(b)
                hdr = parse_container_header(b) or {}
                # deterministic fake decode: byte stats; fake geometry ONLY
                # where no real container header supplied one
                counts = [0] * 256
                for byte in b:
                    counts[byte] += 1
                mean = sum(i * c for i, c in enumerate(counts)) / n if n else 0.0
                ent = -sum((c / n) * math.log2(c / n)
                           for c in counts if c) if n else 0.0
                width = hdr.get("width", 1 + (n % 640))
                height = hdr.get("height", 1 + ((n * 7919) % 480))
                rows.append((did, n, hdr.get("container"), mean, ent,
                             width, height))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_bytes", "container", "mean_byte",
                               "entropy_bits", "width", "height"])

    return df.select("doc_id", "content").mapInPandas(extract, schema)


# --- Container-header metadata (REAL parsing, no codec required) ------------
# Fixed-offset header fields (PNG IHDR, GIF screen descriptor, BMP info
# header, canonical WAV fmt chunk) are pure byte arithmetic — parsed as
# native JVM Column expressions below. JPEG dimensions live behind a
# variable-length marker scan, which the Arrow path in `decode_features`
# handles; the native sniffer still labels the container.


def _be(c, pos: int, nbytes: int):
    """Big-endian unsigned int at 1-based byte offset, JVM-native."""
    return F.conv(F.hex(F.substring(c, pos, nbytes)), 16, 10).cast("bigint")


def _le(c, pos: int, nbytes: int):
    """Little-endian unsigned int: per-byte radix sum, JVM-native."""
    total = F.lit(0).cast("bigint")
    for i in range(nbytes):
        total = total + _be(c, pos + i, 1) * (256 ** i)
    return total


def _le_signed(c, pos: int, nbytes: int):
    """Little-endian SIGNED int (two's complement), JVM-native. BMP info-
    header dims are int32: a negative height means a top-down raster."""
    v = _le(c, pos, nbytes)
    half = 1 << (8 * nbytes - 1)
    return F.when(v >= half, v - (half << 1)).otherwise(v)


def _prefix_is(c, pos: int, magic: bytes):
    return F.lower(F.hex(F.substring(c, pos, len(magic)))) == magic.hex()


def header_metadata(df: DataFrame) -> DataFrame:
    """Real container-header metadata, fully JVM-native: container label,
    image width/height (PNG/GIF/BMP), audio channels/sample-rate (canonical
    WAV). No Python, no codec — just fixed-offset byte fields, so this runs
    at scan speed over a 100 TB binary column. JPEG needs a marker scan →
    width/height null here, parsed on the Arrow path (`decode_features`);
    non-canonical WAV chunk order likewise falls back to the Arrow path."""
    c = F.col("content")
    is_png = _prefix_is(c, 1, b"\x89PNG\r\n\x1a\n")
    is_gif = _prefix_is(c, 1, b"GIF87a") | _prefix_is(c, 1, b"GIF89a")
    is_bmp = _prefix_is(c, 1, b"BM")
    is_wav = _prefix_is(c, 1, b"RIFF") & _prefix_is(c, 9, b"WAVE")
    is_jpeg = _prefix_is(c, 1, b"\xff\xd8\xff")
    is_mp4 = _prefix_is(c, 5, b"ftyp")  # ISO BMFF: ftyp box at offset 4
    canonical_fmt = _prefix_is(c, 13, b"fmt ")

    container = (F.when(is_png, "png").when(is_gif, "gif")
                 .when(is_bmp, "bmp").when(is_wav, "wav")
                 .when(is_jpeg, "jpeg").when(is_mp4, "mp4"))
    width = (F.when(is_png, _be(c, 17, 4))
             .when(is_gif, _le(c, 7, 2))
             .when(is_bmp, _le_signed(c, 19, 4)))
    height = (F.when(is_png, _be(c, 21, 4))
              .when(is_gif, _le(c, 9, 2))
              # int32, abs(): negative height = top-down raster, same
              # pixel count — mirrors parse_container_header.
              .when(is_bmp, F.abs(_le_signed(c, 23, 4))))
    channels = F.when(is_wav & canonical_fmt, _le(c, 23, 2))
    sample_rate = F.when(is_wav & canonical_fmt, _le(c, 25, 4))
    return df.select(
        F.col("doc_id"),
        container.alias("container"),
        width.alias("width"),
        height.alias("height"),
        channels.alias("channels"),
        sample_rate.alias("sample_rate"),
    )


# Oracle of `header_metadata` over `attach_media_content(documents)`: the
# container and geometry `attach_media_content` derives from doc_id,
# recomputed arithmetically.
HEADERS_SQL = """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END AS container,
       CASE WHEN doc_id % 3 = 0 THEN 64 + doc_id % 512 END AS width,
       CASE WHEN doc_id % 3 = 0 THEN 48 + doc_id % 256 END AS height,
       CASE WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2 END AS channels,
       CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 8000 END
         AS sample_rate
FROM documents
ORDER BY doc_id
"""


def parse_container_header(b: bytes):
    """Python twin of :func:`header_metadata` plus the variable-offset
    cases (JPEG SOF marker scan, WAV chunk walk) — REAL parsing used by the
    Arrow decode path. Returns a dict or None for unrecognized payloads."""
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
        return {"container": "png",
                "width": int.from_bytes(b[16:20], "big"),
                "height": int.from_bytes(b[20:24], "big")}
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        return {"container": "gif",
                "width": int.from_bytes(b[6:8], "little"),
                "height": int.from_bytes(b[8:10], "little")}
    if b[:2] == b"BM" and len(b) >= 26:
        return {"container": "bmp",
                "width": int.from_bytes(b[18:22], "little", signed=True),
                "height": abs(int.from_bytes(b[22:26], "little",
                                             signed=True))}
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        off = 12  # chunk walk: handles any chunk order, not just canonical
        while off + 8 <= len(b):
            cid = b[off:off + 4]
            size = int.from_bytes(b[off + 4:off + 8], "little")
            if cid == b"fmt " and off + 16 <= len(b):
                return {"container": "wav",
                        "channels": int.from_bytes(
                            b[off + 10:off + 12], "little"),
                        "sample_rate": int.from_bytes(
                            b[off + 12:off + 16], "little")}
            off += 8 + size + (size & 1)  # chunks are word-aligned
        return {"container": "wav"}
    if b[:3] == b"\xff\xd8\xff":
        off = 2  # SOFn marker scan (skip tables/APPn, stop at frame header)
        while off + 4 <= len(b):
            if b[off] != 0xFF:
                break
            marker = b[off + 1]
            off += 2
            if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
                continue  # standalone markers carry no length
            if off + 2 > len(b):
                break
            seg = int.from_bytes(b[off:off + 2], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if off + 7 <= len(b):
                    return {"container": "jpeg",
                            "height": int.from_bytes(b[off + 3:off + 5],
                                                     "big"),
                            "width": int.from_bytes(b[off + 5:off + 7],
                                                    "big")}
                break
            off += seg
        return {"container": "jpeg"}
    if len(b) >= 8 and b[4:8] == b"ftyp":  # ISO BMFF (mp4/mov/heic family)
        return {"container": "mp4"}
    return None


# --- Native media construction (round-trip twin for header_metadata) --------


def _int_be(col, nbytes: int):
    """Int column → fixed-width big-endian bytes, JVM-native."""
    return F.unhex(F.lpad(F.hex(col.cast("bigint")), nbytes * 2, "0"))


def _int_le(col, nbytes: int):
    """Int column → fixed-width little-endian bytes (per-byte concat)."""
    b = col.cast("bigint")
    return F.concat(*[
        F.unhex(F.lpad(F.hex(F.shiftright(b, 8 * i).bitwiseAND(255)), 2, "0"))
        for i in range(nbytes)])


def attach_media_content(df: DataFrame) -> DataFrame:
    """Wrap each document's bytes in a REAL media container header —
    PNG / canonical WAV / ISO-BMFF(mp4) round-robin by id — with
    deterministic geometry derived from the id:

    - png (id%3==0): width = 64 + id%512, height = 48 + id%256
    - wav (id%3==1): channels = 1 + id%2, sample_rate = 8000 + (id%5)*8000
    - mp4 (id%3==2): ftyp box only (no fixed-offset dimensions in BMFF)

    Everything is native byte arithmetic (hex/unhex/shiftright/concat), so
    synthesizing a 100 TB multimodal table is a scan-speed projection. The
    point: `header_metadata` must parse back exactly the values constructed
    here — checked arithmetically by the `multimodal_headers` oracle."""
    id_c = F.col("doc_id")
    payload = F.encode(F.col("text"), "UTF-8")
    n = F.length(payload)
    w = 64 + id_c % 512
    h = 48 + id_c % 256
    ch = 1 + id_c % 2
    rate = 8000 + (id_c % 5) * 8000

    png = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"), F.lit((13).to_bytes(4, "big")),
        F.lit(b"IHDR"), _int_be(w, 4), _int_be(h, 4),
        F.lit(b"\x08\x06\x00\x00\x00"), payload)
    wav = F.concat(
        F.lit(b"RIFF"), _int_le(n + 36, 4), F.lit(b"WAVE"),
        F.lit(b"fmt "), _int_le(F.lit(16), 4),
        _int_le(F.lit(1), 2), _int_le(ch, 2), _int_le(rate, 4),
        _int_le(rate * ch * 2, 4), _int_le(ch * 2, 2), _int_le(F.lit(16), 2),
        F.lit(b"data"), _int_le(n, 4), payload)
    mp4 = F.concat(
        F.lit((24).to_bytes(4, "big")), F.lit(b"ftypisom"),
        F.lit(b"\x00\x00\x02\x00isomiso2avc1mp41"), payload)

    content = (F.when(id_c % 3 == 0, png)
               .when(id_c % 3 == 1, wav)
               .otherwise(mp4))
    modality = (F.when(id_c % 3 == 0, "image")
                .when(id_c % 3 == 1, "audio")
                .otherwise("video"))
    return df.select(id_c, modality.alias("modality"),
                     content.alias("content"))


# --- REAL raster decode: uncompressed P6 PPM --------------------------------
# Compressed formats (PNG/JPEG pixels) stay codec-blocked in this
# environment, but binary P6 PPM needs no codec at all — so this path is a
# REAL decode (header parse + frombuffer + channel stats + mean-pool
# resize), not a stub: the honest upgrade of the decode story.

PPM_BLOCKS = 48  # 48 md5 blocks × 16 bytes ≥ the max 15×11×3 pixel buffer


def attach_ppm_content(df: DataFrame) -> DataFrame:
    """Synthesize REAL binary P6 PPM images natively: geometry from the id
    (width 8+id%8, height 8+id%4, maxval 255), pixel bytes from an md5
    chain keyed by the id — every byte is reproducible by an independent
    implementation, and the whole construction is a scan-speed projection
    (hex/md5/concat/substr, no Python)."""
    id_c = F.col("doc_id")
    w = (8 + id_c % 8).cast("int")
    h = (8 + id_c % 4).cast("int")
    npix = (w * h * 3).cast("int")
    blocks = F.concat(*[
        F.unhex(F.md5(F.concat(id_c.cast("string"), F.lit(f":{k}"))))
        for k in range(PPM_BLOCKS)])
    pixels = blocks.substr(F.lit(1), npix)
    header = F.concat(
        F.lit(b"P6\n"),
        F.encode(F.concat(w.cast("string"), F.lit(" "), h.cast("string")),
                 "UTF-8"),
        F.lit(b"\n255\n"))
    return df.select(id_c, F.concat(header, pixels).alias("content"))


def decode_ppm_features(df: DataFrame) -> DataFrame:
    """REAL pixel decode via mapInPandas: parse the P6 header, reinterpret
    the payload as an (h, w, 3) uint8 raster, emit true per-channel means
    and a ``THUMB``×``THUMB`` block-mean thumbnail (the resize kernel). One
    Arrow batch in, one out — the same plumbing shape as the codec-blocked
    paths, but with nothing faked."""
    import re

    import numpy as np
    import pandas as pd

    schema = ("doc_id long, width int, height int, "
              "mean_r double, mean_g double, mean_b double, thumb binary")

    def run(batches):
        for pdf in batches:
            out = []
            for did, buf in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(buf)
                m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", b)
                w, h, maxval = (int(g) for g in m.groups())
                px = (np.frombuffer(b, np.uint8, count=w * h * 3,
                                    offset=m.end())
                      .reshape(h, w, 3).astype(np.float64))
                means = px.mean(axis=(0, 1))
                hh, ww = (h // THUMB) * THUMB, (w // THUMB) * THUMB
                pool = (px[:hh, :ww]
                        .reshape(THUMB, hh // THUMB, THUMB, ww // THUMB, 3)
                        .mean(axis=(1, 3)))
                out.append((int(did), w, h, means[0], means[1], means[2],
                            pool.round().clip(0, 255).astype(np.uint8)
                            .tobytes()))
            yield pd.DataFrame(out, columns=["doc_id", "width", "height",
                                             "mean_r", "mean_g", "mean_b",
                                             "thumb"])

    return df.mapInPandas(run, schema)


# --- REAL PCM decode: WAV data-chunk samples --------------------------------
# WAV PCM is the audio analogue of P6 PPM: no codec, just a chunk walk to
# the data payload and a dtype reinterpret — so this decode is real too.


def decode_wav_features(df: DataFrame) -> DataFrame:
    """REAL audio decode via mapInPandas: chunk-walk to ``fmt ``/``data``,
    reinterpret the payload as int16 LE PCM, and emit true sample count,
    duration, RMS, and peak. Non-WAV (or truncated) content yields nulls —
    the mixed-modality table shape."""
    import numpy as np
    import pandas as pd

    schema = ("doc_id long, channels int, sample_rate int, "
              "n_samples long, duration_s double, rms double, peak int")

    def run(batches):
        for pdf in batches:
            out = []
            for did, buf in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(buf)
                row = (int(did), None, None, None, None, None, None)
                if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                    ch = rate = data = None
                    off = 12
                    while off + 8 <= len(b):
                        cid = b[off:off + 4]
                        size = int.from_bytes(b[off + 4:off + 8], "little")
                        body = b[off + 8:off + 8 + size]
                        if cid == b"fmt ":
                            ch = int.from_bytes(body[2:4], "little")
                            rate = int.from_bytes(body[4:8], "little")
                        elif cid == b"data":
                            data = body
                        off += 8 + size + (size & 1)
                    if ch and rate and data is not None:
                        pcm = np.frombuffer(
                            data[:len(data) - (len(data) % 2)], "<i2")
                        n = len(pcm) // ch
                        rms = (float(np.sqrt(np.mean(pcm.astype(np.float64)
                                                     ** 2)))
                               if len(pcm) else 0.0)
                        peak = int(np.abs(pcm).max()) if len(pcm) else 0
                        row = (int(did), ch, rate, n, n / rate, rms, peak)
                out.append(row)
            yield pd.DataFrame(out, columns=["doc_id", "channels",
                                             "sample_rate", "n_samples",
                                             "duration_s", "rms", "peak"])

    return df.mapInPandas(run, schema)


# --- REAL frame sampling: uncompressed PPM frame stream ---------------------

VIDEO_FRAMES = 6
VIDEO_W = 8
VIDEO_H = 8
_FRAME_BLOCKS = (VIDEO_W * VIDEO_H * 3 + 15) // 16  # md5 blocks per frame


def attach_ppm_video(df: DataFrame) -> DataFrame:
    """Synthesize a REAL uncompressed frame stream natively: ``PPMV`` +
    big-endian frame count + ``VIDEO_FRAMES`` concatenated 8×8 P6 frames,
    every pixel byte reproducible from an md5 chain keyed (id, frame)."""
    id_c = F.col("doc_id")
    npix = VIDEO_W * VIDEO_H * 3
    header = F.lit(b"P6\n" + f"{VIDEO_W} {VIDEO_H}".encode() + b"\n255\n")
    frames = []
    for fr in range(VIDEO_FRAMES):
        chain = F.concat(*[
            F.unhex(F.md5(F.concat(id_c.cast("string"),
                                   F.lit(f":f{fr}:{k}"))))
            for k in range(_FRAME_BLOCKS)])
        frames.append(F.concat(header, chain.substr(F.lit(1), F.lit(npix))))
    content = F.concat(F.lit(b"PPMV"),
                       F.lit(VIDEO_FRAMES.to_bytes(4, "big")), *frames)
    return df.select(id_c, content.alias("content"))


def sample_video_frames(df: DataFrame) -> DataFrame:
    """REAL frame sampling via mapInPandas: walk the PPMV stream, decode
    every 2nd frame's pixels, emit per-frame channel means —
    the uncompressed-stream version of ffmpeg's `select=not(mod(n,k))`."""
    import re

    import numpy as np
    import pandas as pd

    schema = ("doc_id long, frame int, "
              "mean_r double, mean_g double, mean_b double")

    def run(batches):
        for pdf in batches:
            out = []
            for did, buf in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(buf)
                if b[:4] != b"PPMV":
                    continue
                n_frames = int.from_bytes(b[4:8], "big")
                off = 8
                for fr in range(n_frames):
                    m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", b[off:])
                    w, h, _ = (int(g) for g in m.groups())
                    start = off + m.end()
                    end = start + w * h * 3
                    if fr % 2 == 0:
                        px = (np.frombuffer(b[start:end], np.uint8)
                              .reshape(h, w, 3).astype(np.float64))
                        means = px.mean(axis=(0, 1))
                        out.append((int(did), fr,
                                    means[0], means[1], means[2]))
                    off = end
            yield pd.DataFrame(out, columns=["doc_id", "frame", "mean_r",
                                             "mean_g", "mean_b"])

    return df.mapInPandas(run, schema)


# --- Perceptual hash (aHash) over the real PPM decode -----------------------

PHASH_GROUP = 7    # docs per planted near-dup group (image keyed by gid)
PHASH_PERTURB = 40  # per-member shift of the first pixel byte (mod 256)
PHASH_BLOCKS = 12  # 12 md5 blocks x 16 bytes = the exact 8*8*3 buffer


def attach_ppm_group_content(df: DataFrame) -> DataFrame:
    """Synthesize 8x8 P6 PPM images with PLANTED near-duplicates: the
    pixel chain is keyed by gid = id div PHASH_GROUP (so group members
    share a base image) and member m = id % PHASH_GROUP shifts the first
    pixel byte by PHASH_PERTURB*m mod 256 — a one-byte perturbation that
    leaves perceptual hashes within a few bits of each other. Same
    native construction discipline as attach_ppm_content: every byte is
    md5-reproducible, the whole thing a scan-speed projection."""
    id_c = F.col("doc_id")
    gid = F.expr(f"doc_id div {PHASH_GROUP}")
    m = (id_c % PHASH_GROUP).cast("int")
    blocks = F.concat(*[
        F.unhex(F.md5(F.concat(F.lit("g:"), gid.cast("string"),
                               F.lit(f":{k}"))))
        for k in range(PHASH_BLOCKS)])
    v0 = F.conv(F.substring(F.hex(blocks), 1, 2), 16, 10).cast("int")
    v0p = (v0 + F.lit(PHASH_PERTURB) * m) % 256
    pixels = F.concat(F.unhex(F.lpad(F.hex(v0p), 2, "0")),
                      blocks.substr(F.lit(2), F.lit(191)))
    header = F.lit(b"P6\n8 8\n255\n")
    return df.select(id_c, F.concat(header, pixels).alias("content"))


def decode_ppm_ahash(df: DataFrame) -> DataFrame:
    """REAL decode to a 64-bit average hash: parse the P6 header,
    reinterpret the raster, integer grayscale (r+g+b) div 3 per pixel,
    bit_p = [64*gray_p > sum(gray)] (integer cross-multiplication — no
    mean division, so the bit is engine-exact), packed row-major into
    four 16-bit band integers b0..b3. Arrow-batched mapInPandas, one
    batch in, one out."""
    import re

    import numpy as np
    import pandas as pd

    schema = "doc_id long, b0 long, b1 long, b2 long, b3 long"

    def run(batches):
        for pdf in batches:
            out = []
            for did, buf in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(buf)
                m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", b)
                w, h, _ = (int(g) for g in m.groups())
                px = (np.frombuffer(b, np.uint8, count=w * h * 3,
                                    offset=m.end())
                      .astype(np.int64))
                gray = (px[0::3] + px[1::3] + px[2::3]) // 3
                s = int(gray.sum())
                bits = (64 * gray > s).astype(np.int64)
                bands = [int((bits[16 * i:16 * (i + 1)]
                              << np.arange(16)).sum()) for i in range(4)]
                out.append((int(did), *bands))
            yield pd.DataFrame(out, columns=["doc_id", "b0", "b1", "b2", "b3"])

    return df.mapInPandas(run, schema)

"""Multimodal column plumbing (BASELINE.json north star): image /
audio / video treated as opaque BINARY payloads with typed metadata;
decode / feature-extract / resize / frame-sample as Arrow-batched
``mapInPandas`` operators.

What is REAL vs stubbed: WAV metadata + 16-bit PCM sample decode,
PNG/BMP header parse, and raw-plane resize are real and
dependency-free; encoded-image pixel decode is real behind the
optional Pillow dependency (``decoder="pillow"``, guarded import)
with ``decoder="fake"`` as the deterministic digest-based stand-in
used by gates/tests in containers without image libraries.

Scale design: payloads never pass through Python row-at-a-time —
mapInPandas streams Arrow batches; metadata-only transforms
(byte_len, content hash, magic sniff) are pure JVM expressions so a
metadata scan never deserializes payloads in Python at all.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = (
    "media_id long, byte_len int, width int, height int, channels int, "
    "mean_luma double"
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a synthetic media table from the documents fixture: the
    UTF-8 text bytes stand in for an encoded payload. Gives the
    multimodal path real (deterministic) data in this container."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.col("source"),
    )


def payload_metadata(df: DataFrame) -> DataFrame:
    """Metadata-only projection — JVM expressions, payloads never reach
    Python: byte length, content hash, 8-byte magic prefix."""
    return df.select(
        "media_id",
        "kind",
        F.octet_length(F.col("payload")).alias("byte_len"),
        F.md5(F.col("payload")).alias("content_md5"),
        F.hex(F.substring(F.col("payload"), 1, 8)).alias("magic_hex"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int, float]:
    """Deterministic stand-in for an image decoder: derives dimensions
    and a 'mean luma' from the payload digest. NOT a real decode —
    exists so batching/schema/partitioning are exercised end-to-end."""
    d = hashlib.md5(payload).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    channels = 1 + d[2] % 3
    mean_luma = d[3] / 255.0
    return width, height, channels, mean_luma


def _pillow_decode(payload: bytes) -> tuple[int, int, int, float]:
    """Real image decode via Pillow (optional dependency): dimensions,
    band count, and mean luma of the 8-bit grayscale conversion.
    Import happens inside the executor-side call so the operator is
    importable without Pillow; undecodable payloads map to the same
    (0, 0, 0, 0.0) sentinel the fake path uses for NULLs."""
    from io import BytesIO

    from PIL import Image, ImageStat, UnidentifiedImageError

    try:
        with Image.open(BytesIO(payload)) as im:
            channels = len(im.getbands())
            mean_luma = ImageStat.Stat(im.convert("L")).mean[0] / 255.0
            return im.width, im.height, channels, mean_luma
    except (
        UnidentifiedImageError,
        Image.DecompressionBombError,  # not an OSError — crafted/huge
        OSError,
        ValueError,
    ):
        return 0, 0, 0, 0.0


def pillow_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


_DECODERS = {"fake": _fake_decode, "pillow": _pillow_decode}


def decode_image_features(df: DataFrame, decoder: str = "fake") -> DataFrame:
    """mapInPandas decode: Arrow-batched, one Python roundtrip per
    batch, output schema fixed.

    ``decoder="fake"`` (default) is the deterministic digest-based
    stand-in used by gates/tests; ``decoder="pillow"`` performs a real
    decode when Pillow is importable (optional dependency — raises
    NotImplementedError up front when it is not, rather than failing
    executor-side)."""
    if decoder not in _DECODERS:
        raise NotImplementedError(
            f"decoder={decoder!r}: supported decoders are "
            f"{sorted(_DECODERS)}"
        )
    if decoder == "pillow" and not pillow_available():
        raise NotImplementedError(
            "decoder='pillow': Pillow is not installed in this "
            "environment — install pillow or use the deterministic "
            "'fake' decoder"
        )
    decode = _DECODERS[decoder]

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            feats = [
                decode(bytes(p)) if p is not None else (0, 0, 0, 0.0)
                for p in pdf["payload"]
            ]
            out = pd.DataFrame(
                feats, columns=["width", "height", "channels", "mean_luma"]
            )
            out.insert(0, "media_id", pdf["media_id"].values)
            out.insert(
                1,
                "byte_len",
                [0 if p is None else len(bytes(p)) for p in pdf["payload"]],
            )
            yield out

    return df.select("media_id", "payload").mapInPandas(
        batches, schema=IMAGE_FEATURES_SCHEMA
    )


def frame_sample(
    df: DataFrame, every_n_bytes: int = 1024, max_frames: int = 8
) -> DataFrame:
    """'Frame sampling' shape for video payloads: one row per sampled
    offset (UDTF-like fan-out), payload slicing JVM-side, at a fixed
    byte stride. For real MP4 payloads use ``mp4_chunk_offsets`` to
    derive the offsets from the container's stco/co64 index instead —
    the slicing/explode plumbing downstream is identical."""
    n = F.least(
        F.floor(F.octet_length("payload") / every_n_bytes).cast("int") + 1,
        F.lit(max_frames),
    )
    return df.select(
        "media_id",
        F.posexplode(F.sequence(F.lit(0), n - 1)).alias("frame_idx", "__i"),
        F.col("payload"),
    ).select(
        "media_id",
        "frame_idx",
        (F.col("frame_idx") * every_n_bytes).alias("byte_offset"),
        F.substring(
            F.col("payload"), F.col("frame_idx") * every_n_bytes + 1, every_n_bytes
        ).alias("frame_bytes"),
    )


def _le_uint(payload, offset: int, nbytes: int) -> F.Column:
    """Little-endian unsigned int from ``nbytes`` of a binary column,
    decoded with pure JVM string ops (hex + byte-order swap + conv) —
    no Python touches the payload."""
    h = F.hex(F.substring(payload, offset, nbytes))
    swapped = F.concat(
        *[F.substring(h, 2 * i + 1, 2) for i in reversed(range(nbytes))]
    )
    return F.conv(swapped, 16, 10).cast("long")


def wav_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Audio metadata from canonical 44-byte-header PCM WAV payloads —
    a REAL parse (RIFF/WAVE magic check, little-endian field decode),
    entirely JVM-side: byte slicing + hex + conv inside codegen, the
    payload never crosses into Python. Non-WAV payloads yield NULL
    fields with is_wav = false.

    Columns: is_wav, audio_format (1 = PCM), channels, sample_rate_hz,
    bits_per_sample, data_bytes, duration_s (data / byte-rate — one
    fixed double division, engine-deterministic). Canonical-layout
    assumption (fmt chunk at offset 13) is documented; streams with
    extra chunks would need a real chunk walk (mapInPandas)."""
    p = F.col(payload_col)
    is_wav = (
        (F.octet_length(p) >= 44)
        & (F.substring(p, 1, 4) == F.lit(b"RIFF"))
        & (F.substring(p, 9, 4) == F.lit(b"WAVE"))
    )
    fmt = _le_uint(p, 21, 2)
    channels = _le_uint(p, 23, 2)
    rate = _le_uint(p, 25, 4)
    bits = _le_uint(p, 35, 2)
    data_bytes = _le_uint(p, 41, 4)
    byte_rate = rate * channels * (bits / F.lit(8.0))
    dur = F.when(byte_rate > 0, data_bytes / byte_rate)
    null_if = lambda c: F.when(is_wav, c)
    return df.select(
        *[c for c in df.columns if c != payload_col],
        is_wav.alias("is_wav"),
        null_if(fmt).cast("int").alias("audio_format"),
        null_if(channels).cast("int").alias("channels"),
        null_if(rate).cast("int").alias("sample_rate_hz"),
        null_if(bits).cast("int").alias("bits_per_sample"),
        null_if(data_bytes).alias("data_bytes"),
        F.round(null_if(dur), 6).alias("duration_s"),
    )


AUDIO_FEATURES_SCHEMA = (
    "media_id long, n_samples long, peak int, zero_crossings long, "
    "sum_sq long, rms double"
)


def wav_pcm_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL audio decode: 16-bit PCM WAV samples via numpy
    ``frombuffer`` in Arrow-batched ``mapInPandas`` — dependency-free
    (canonical 44-byte header, same layout contract as
    ``wav_metadata``), one vectorized decode per file, never
    per-sample Python.

    Features are exact-integer where the math allows (peak, zero
    crossings, Σs² in int64 — a 16-bit sample squares to < 2^30, so
    int64 holds > 8e9 samples ≈ 50 h of 44.1 kHz stereo) with rms
    derived by one double division + sqrt at the end. Non-WAV,
    truncated, or non-16-bit-integer-PCM payloads (checked via the
    fmt fields) yield n_samples = 0 rows with NULL features.
    """
    import numpy as np
    import pandas as pd

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                if (
                    payload is None
                    or len(payload) < 44
                    or bytes(payload[0:4]) != b"RIFF"
                    or bytes(payload[8:12]) != b"WAVE"
                ):
                    out.append((mid, 0, None, None, None, None))
                    continue
                # the fixed-offset fmt fields this layout contract
                # already assumes: only integer PCM (format 1) at 16
                # bits decodes as '<i2' — an 8/24-bit or float WAV
                # reinterpreted as int16 would return confident
                # garbage, so reject it like a non-WAV instead
                audio_format = int.from_bytes(payload[20:22], "little")
                bits = int.from_bytes(payload[34:36], "little")
                if audio_format != 1 or bits != 16:
                    out.append((mid, 0, None, None, None, None))
                    continue
                data = bytes(payload[44:])
                data = data[: len(data) - (len(data) % 2)]
                s = np.frombuffer(data, dtype="<i2").astype(np.int64)
                if s.size == 0:
                    out.append((mid, 0, None, None, None, None))
                    continue
                sum_sq = int(np.dot(s, s))
                peak = int(np.max(np.abs(s)))
                zc = int(np.count_nonzero(np.signbit(s[1:]) != np.signbit(s[:-1])))
                rms = float(np.sqrt(sum_sq / s.size))
                out.append((mid, int(s.size), peak, zc, sum_sq, rms))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "n_samples", "peak", "zero_crossings",
                    "sum_sq", "rms",
                ],
            )

    return df.select("media_id", payload_col).mapInPandas(
        batches, schema=AUDIO_FEATURES_SCHEMA
    )


def _be_uint(payload, offset: int, nbytes: int) -> F.Column:
    """Big-endian unsigned int from ``nbytes`` of a binary column —
    hex + conv, no byte swap needed (hex is already big-endian)."""
    return F.conv(F.hex(F.substring(payload, offset, nbytes)), 16, 10).cast(
        "long"
    )


def image_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Image dimensions/format from PNG and BMP payloads — a REAL
    header parse, entirely JVM-side (magic sniff + fixed-offset field
    decode inside codegen; payloads never reach Python): the
    metadata-scan half of an image curation pipeline, where decoding
    pixels (decode_image_features) is deferred to the few rows that
    survive filtering.

    PNG: 8-byte signature, then the IHDR chunk is REQUIRED first by
    the spec — width/height are big-endian uint32 at offsets 17/21
    (1-based), bit depth + colour type follow. BMP ('BM'): BITMAPINFOHEADER
    little-endian int32 width/height at offsets 19/23, bpp at 29.
    Other payloads yield format 'unknown' with NULL fields.
    """
    p = F.col(payload_col)
    # the fixed width/height/depth offsets assume the first chunk is
    # IHDR — required first by the PNG spec, but a signature-only
    # payload with a nonstandard first chunk would otherwise decode
    # confident garbage (same guard class as the BMP DIB whitelist).
    is_png = (
        F.substring(p, 1, 8)
        == F.lit(bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A]))
    ) & (F.substring(p, 13, 4) == F.lit(b"IHDR"))
    # the int32 width/height/bpp offsets below hold only for the
    # BITMAPINFOHEADER family (DIB size 40, or the V4/V5 extensions
    # 108/124 which share its leading fields); a BITMAPCOREHEADER
    # (size 12, int16 fields) parsed at these offsets would return
    # confident garbage — classify it unknown instead.
    dib = _le_uint(p, 15, 4)
    is_bmp = (
        (F.substring(p, 1, 2) == F.lit(b"BM"))
        & (F.octet_length(p) >= 30)
        & dib.isin(40, 108, 124)
    )
    fmt = (
        F.when(is_png & (F.octet_length(p) >= 26), F.lit("png"))
        .when(is_bmp, F.lit("bmp"))
        .otherwise(F.lit("unknown"))
    )

    def _le_int32(offset: int) -> F.Column:
        # signed int32 from the unsigned decode, without relying on
        # overflow-wrapping casts (which THROW under ANSI mode):
        # top-down BMPs store height as a negative int32
        u = _le_uint(p, offset, 4)
        return F.when(u >= F.lit(1 << 31), u - F.lit(1 << 32)).otherwise(u)

    width = (
        F.when(fmt == "png", _be_uint(p, 17, 4))
        .when(fmt == "bmp", _le_int32(19))
    )
    height = (
        F.when(fmt == "png", _be_uint(p, 21, 4))
        .when(fmt == "bmp", _le_int32(23))
    )
    depth = (
        F.when(fmt == "png", _be_uint(p, 25, 1))
        .when(fmt == "bmp", _le_uint(p, 29, 2))
    )
    return df.select(
        *[c for c in df.columns if c != payload_col],
        fmt.alias("format"),
        width.cast("int").alias("width"),
        height.cast("int").alias("height"),
        depth.cast("int").alias("bit_depth"),
    )


RESIZED_SCHEMA = "media_id long, out_w int, out_h int, pixels binary"


def resize_raw_gray(
    df: DataFrame,
    out_w: int,
    out_h: int,
    payload_col: str = "payload",
    width_col: str = "width",
    height_col: str = "height",
) -> DataFrame:
    """REAL image resize, dependency-free: the payload is a raw 8-bit
    grayscale W×H buffer (the post-decode representation), resampled
    to (out_w, out_h) by nearest-neighbor — one vectorized numpy
    gather per image inside Arrow-batched ``mapInPandas``, never
    per-pixel Python.

    Sample index mapping is the standard floor((i+0.5)*src/dst) pixel-
    center rule — pure integer/IEEE arithmetic, deterministic
    everywhere. Rows whose payload size != width*height yield NULL
    pixels (malformed buffer, not silently misinterpreted).

    This is the 'resize' leg of the brief's decode / feature-extract /
    resize / frame-sample quartet; for ENCODED images, decode first
    (``decode_image_features`` with the pillow path) and feed the raw
    plane here.
    """
    import numpy as np
    import pandas as pd

    if out_w <= 0 or out_h <= 0:
        raise ValueError("out_w and out_h must be positive")

    def batches(it: Iterator) -> Iterator:
        # gather indices depend only on (w, h): memoize per batch —
        # curated datasets have few distinct dimensions, so this
        # collapses 10k identical index computations to one
        idx_cache: dict = {}

        def indices(w: int, h: int):
            got = idx_cache.get((w, h))
            if got is None:
                ys = np.minimum(
                    ((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64),
                    h - 1,
                )
                xs = np.minimum(
                    ((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64),
                    w - 1,
                )
                got = idx_cache[(w, h)] = (ys, xs)
            return got

        for pdf in it:
            out = []
            for mid, payload, w, h in zip(
                pdf["media_id"], pdf[payload_col],
                pdf[width_col], pdf[height_col],
            ):
                # pd.isna, not `is None`: Arrow hands nullable int
                # columns to pandas as float64 with NaN, and int(NaN)
                # raises
                if (
                    payload is None
                    or pd.isna(w) or pd.isna(h)
                    or int(w) <= 0 or int(h) <= 0
                    or len(payload) != int(w) * int(h)
                ):
                    out.append((mid, out_w, out_h, None))
                    continue
                w, h = int(w), int(h)
                img = np.frombuffer(bytes(payload), dtype=np.uint8)
                img = img.reshape(h, w)
                ys, xs = indices(w, h)
                small = img[np.ix_(ys, xs)]
                out.append((mid, out_w, out_h, small.tobytes()))
            yield pd.DataFrame(
                out, columns=["media_id", "out_w", "out_h", "pixels"]
            )

    return df.select(
        "media_id", payload_col, width_col, height_col
    ).mapInPandas(batches, schema=RESIZED_SCHEMA)


JPEG_DIMS_SCHEMA = "media_id long, is_jpeg boolean, width int, height int, n_components int"


def jpeg_dimensions(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """JPEG dimensions via a REAL marker-segment walk (SOI, then
    length-prefixed segments until the first SOFn frame header) —
    dependency-free, Arrow-batched ``mapInPandas``. Unlike PNG/BMP,
    JPEG has no fixed-offset header, so this is Python-per-file by
    necessity (§2.10 binary-decode policy: one bounded walk per FILE,
    never per byte — segment count is small by construction).

    Handles all SOFn variants (baseline/progressive/lossless,
    excluding the DHT/DAC/RST non-frame markers), skips padding FF
    fill bytes, and stops at SOS (no frame header before scan data =>
    malformed). Non-JPEG / malformed payloads yield is_jpeg = false.
    """
    import pandas as pd

    SOF_MARKERS = {
        0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
    }

    def parse_one(b: bytes):
        if b is None or len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
            return (False, None, None, None)
        i = 2
        n = len(b)
        while i + 3 < n:
            if b[i] != 0xFF:  # desync — not a marker where one is due
                return (False, None, None, None)
            # skip fill bytes (spec allows FF padding between segments)
            while i < n and b[i] == 0xFF:
                i += 1
            if i >= n:
                break
            marker = b[i]
            i += 1
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                continue  # standalone markers, no length field
            if i + 1 >= n:
                break
            seglen = int.from_bytes(b[i:i + 2], "big")
            if seglen < 2 or i + seglen > n:
                return (False, None, None, None)
            if marker in SOF_MARKERS:
                if seglen < 8:
                    return (False, None, None, None)
                height = int.from_bytes(b[i + 3:i + 5], "big")
                width = int.from_bytes(b[i + 5:i + 7], "big")
                ncomp = b[i + 7]
                return (True, width, height, ncomp)
            if marker == 0xDA:  # SOS before any SOF — malformed
                return (False, None, None, None)
            i += seglen
        return (False, None, None, None)

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                ok, w, h, c = parse_one(
                    None if payload is None else bytes(payload)
                )
                out.append((mid, ok, w, h, c))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "is_jpeg", "width", "height", "n_components",
                ],
            )

    return df.select("media_id", payload_col).mapInPandas(
        batches, schema=JPEG_DIMS_SCHEMA
    )


# ---- ISO-BMFF (MP4) box-walk helpers — ONE definition shared by the
# two MP4 parsers below (a fix applied to one copy but not the other
# would silently diverge them) ------------------------------------

_INT63_MAX = (1 << 63) - 1


def _be32(b: bytes, i: int) -> int:
    return int.from_bytes(b[i:i + 4], "big")


def _be64(b: bytes, i: int) -> int:
    return int.from_bytes(b[i:i + 8], "big")


def _walk_boxes(b: bytes, start: int, end: int):
    """Yield (box_type, body_start, body_end) for the boxes in range.
    Cannot loop (every accepted size advances i); a largesize < 16
    (which would put body_start past box_end and re-parse the
    largesize field itself as headers) is rejected as corrupt."""
    i = start
    while i + 8 <= end:
        size = _be32(b, i)
        btype = b[i + 4:i + 8]
        body = i + 8
        if size == 1:  # 64-bit largesize
            if i + 16 > end:
                return
            size = _be64(b, i + 8)
            body = i + 16
            if size < 16:
                return
        elif size == 0:  # box extends to end of file
            size = end - i
        if size < 8 or i + size > end:
            return
        yield btype, body, i + size
        i += size


def _find_boxes(b: bytes, s: int, e: int, path):
    """Yield body ranges of boxes matching the nested type path."""
    first, rest = path[0], path[1:]
    for btype, bs, be in _walk_boxes(b, s, e):
        if btype != first:
            continue
        if not rest:
            yield bs, be
        else:
            yield from _find_boxes(b, bs, be, rest)


MP4_METADATA_SCHEMA = (
    "media_id long, is_mp4 boolean, major_brand string, "
    "timescale long, duration long, duration_s double, n_tracks int"
)


def mp4_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Video container metadata via a REAL ISO-BMFF (MP4) box walk —
    dependency-free, Arrow-batched ``mapInPandas``: top-level boxes
    are length-prefixed, so the walk visits O(#boxes) positions, never
    scanning media bytes; inside ``moov`` it reads the ``mvhd``
    timescale/duration (v0 and v1 layouts) and counts ``trak`` boxes.

    The metadata half of video curation (duration / track filtering,
    corpus stats) — actual frame decode stays behind the frame-sample
    path + an external decoder. Non-MP4 / malformed payloads yield
    is_mp4 = false with NULL fields; the spec's unknown-duration
    sentinel (all ones, v0 or v1) and any duration beyond the signed
    int64 output type map to NULL duration, never a crash or a
    wrapped negative.
    """
    import pandas as pd

    def parse_one(b: bytes):
        none = (False, None, None, None, None, None)
        if b is None or len(b) < 12:
            return none
        # an MP4 starts with an ftyp box (spec: should be first)
        if b[4:8] != b"ftyp":
            return none
        brand = None
        timescale = duration = None
        n_tracks = 0
        for btype, s, e in _walk_boxes(b, 0, len(b)):
            if btype == b"ftyp" and e - s >= 4:
                brand = b[s:s + 4].decode("ascii", "replace")
            elif btype == b"moov":
                for t2, s2, e2 in _walk_boxes(b, s, e):
                    if t2 == b"mvhd" and e2 - s2 >= 4:
                        ver = b[s2]
                        if ver == 1 and e2 - s2 >= 28 + 4:
                            timescale = _be32(b, s2 + 20)
                            duration = _be64(b, s2 + 24)
                            if duration >= (1 << 64) - 1:
                                duration = None  # unknown-duration sentinel
                        elif ver == 0 and e2 - s2 >= 16 + 4:
                            timescale = _be32(b, s2 + 12)
                            duration = _be32(b, s2 + 16)
                            if duration == (1 << 32) - 1:
                                duration = None
                        if duration is not None and duration > _INT63_MAX:
                            duration = None  # exceeds the signed output type
                    elif t2 == b"trak":
                        n_tracks += 1
        dur_s = (
            float(duration) / timescale
            if timescale and duration is not None
            else None
        )
        return (True, brand, timescale, duration, dur_s, n_tracks)

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                ok, brand, ts, dur, dur_s, nt = parse_one(
                    None if payload is None else bytes(payload)
                )
                out.append((mid, ok, brand, ts, dur, dur_s,
                            nt if ok else None))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "is_mp4", "major_brand", "timescale",
                    "duration", "duration_s", "n_tracks",
                ],
            )

    return df.select("media_id", payload_col).mapInPandas(
        batches, schema=MP4_METADATA_SCHEMA
    )


MP4_CHUNKS_SCHEMA = "media_id long, track_idx int, chunk_idx int, byte_offset long"


def mp4_chunk_offsets(
    df: DataFrame, max_chunks_per_track: int = 16, payload_col: str = "payload"
) -> DataFrame:
    """REAL frame/chunk sampling offsets from the MP4 container index:
    walks moov→trak→mdia→minf→stbl→stco (chunk-offset table, 'co64'
    for the 64-bit variant) and emits up to ``max_chunks_per_track``
    byte offsets per track — the real-container counterpart of the
    stride-based ``frame_sample``. Downstream, the offsets drive
    JVM-side ``substring`` slicing or ranged reads of the media file —
    media bytes are never scanned here, only the index boxes.

    ``track_idx`` is the ordinal of the ``trak`` box (aligned with
    ``mp4_metadata``'s n_tracks ordering) — a track without an stbl
    index consumes an index but emits no rows. Corrupt offsets beyond
    signed int64 are skipped, never a crash.
    """
    import pandas as pd

    def parse_one(b: bytes):
        if b is None or len(b) < 12 or b[4:8] != b"ftyp":
            return []
        rows = []
        traks = list(_find_boxes(b, 0, len(b), [b"moov", b"trak"]))
        for t_idx, (ts_, te_) in enumerate(traks):
            offs = []
            for s, e in _find_boxes(b, ts_, te_, [b"mdia", b"minf", b"stbl"]):
                for btype, bs, be in _walk_boxes(b, s, e):
                    if btype == b"stco" and be - bs >= 8:
                        n = _be32(b, bs + 4)
                        for j in range(min(n, max_chunks_per_track)):
                            pos = bs + 8 + 4 * j
                            if pos + 4 > be:
                                break
                            offs.append(_be32(b, pos))
                    elif btype == b"co64" and be - bs >= 8:
                        n = _be32(b, bs + 4)
                        for j in range(min(n, max_chunks_per_track)):
                            pos = bs + 8 + 8 * j
                            if pos + 8 > be:
                                break
                            off = _be64(b, pos)
                            if off > _INT63_MAX:
                                continue  # corrupt: beyond signed int64
                            offs.append(off)
            rows.extend(
                (t_idx, c_idx, off) for c_idx, off in enumerate(offs)
            )
        return rows

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                for t_idx, c_idx, off in parse_one(
                    None if payload is None else bytes(payload)
                ):
                    out.append((mid, t_idx, c_idx, off))
            yield pd.DataFrame(
                out,
                columns=["media_id", "track_idx", "chunk_idx", "byte_offset"],
            )

    return df.select("media_id", payload_col).mapInPandas(
        batches, schema=MP4_CHUNKS_SCHEMA
    )


# --------------------------------------------------------------------
# Perceptual hash (dHash) + banded-Hamming near-dup
# --------------------------------------------------------------------


def dhash_fixed_offsets(
    src_w: int = 16,
    src_h: int = 16,
    hash_w: int = 8,
    hash_h: int = 8,
) -> list[tuple[int, int, int]]:
    """(bit, off_a, off_b) byte offsets (0-indexed, row-major) of the
    pixel pairs a dHash compares for a FIXED source raster size.

    dHash = nearest-neighbor resample to (hash_w+1) x hash_h, then
    bit k = i*hash_w+j set iff p(i, j) > p(i, j+1).  The resample
    uses the same floor((i+0.5)*src/dst) pixel-center rule as
    ``resize_raw_gray``; with src dims fixed the gather indices are
    CONSTANTS, so the whole hash collapses to column algebra over
    fixed byte offsets — no Python in the hot path, and the identical
    expression text runs in any SQL engine (the oracle consumes the
    same literals).  test_multimodal proves this path bit-identical
    to the numpy resize.
    """
    if src_w < hash_w + 1 or src_h < hash_h:
        raise ValueError("source raster smaller than the hash grid")
    xs = [
        min(((2 * j + 1) * src_w) // (2 * (hash_w + 1)), src_w - 1)
        for j in range(hash_w + 1)
    ]
    ys = [
        min(((2 * i + 1) * src_h) // (2 * hash_h), src_h - 1)
        for i in range(hash_h)
    ]
    return [
        (i * hash_w + j, ys[i] * src_w + xs[j], ys[i] * src_w + xs[j + 1])
        for i in range(hash_h)
        for j in range(hash_w)
    ]


def dhash_band_exprs(
    s_col: str,
    src_w: int = 16,
    src_h: int = 16,
    hash_w: int = 8,
    hash_h: int = 8,
    n_bands: int = 4,
    stretch_len_expr: str | None = None,
) -> list[str]:
    """SQL expression strings (one per 16-bit band) computing the
    dHash of a character raster: ``s_col`` is a string read row-major,
    pixel value = code point.

    With ``stretch_len_expr`` unset, ``s_col`` must be a pre-built
    raster of at least src_w*src_h characters and the resample gather
    indices are compile-time constants.  With it set (a SQL expression
    for the string's length, e.g. ``greatest(length(s), 1)``), the
    raster is STRETCH-RESAMPLED from the whole string: raster offset o
    reads char floor(o*len/npix) — what a real decode-and-resize does
    (the frame is always full of content).  The pad-to-raster
    convention this replaces gave every short payload an identical
    all-padding tail, which collided entire Hamming bands corpus-wide
    (scale probe: 68x at 10x from one 15k-doc band bucket); a real
    image pipeline never produces a constant region, and neither does
    the stretch.  A string of length exactly src_w*src_h stretches to
    the identity mapping, so both modes agree there (tested).

    Band values are small non-negative ints (< 2^(bits/n_bands)), so
    none of the 64-bit sign/shift portability traps apply — the
    Hamming distance is the SUM of per-band xor popcounts.  The text
    is portable SQL (ascii/substring/CASE/floor); Spark wraps it in
    ``F.expr`` and the DuckDB oracle embeds it verbatim — one
    generator, zero cross-engine drift.  The stretched index divides
    by npix in DOUBLE: o*len is an exact integer in double range, so
    the correctly-rounded quotient floors identically on any IEEE-754
    engine.
    """
    nbits = hash_w * hash_h
    if nbits % n_bands != 0:
        raise ValueError("n_bands must divide the bit count")
    per = nbits // n_bands
    npix = src_w * src_h
    offs = dhash_fixed_offsets(src_w, src_h, hash_w, hash_h)

    def idx(o: int) -> str:
        if stretch_len_expr is None:
            return str(o + 1)
        return (
            f"CAST(floor(({o} * CAST({stretch_len_expr} AS DOUBLE))"
            f" / {npix}.0) AS INT) + 1"
        )

    out = []
    for b in range(n_bands):
        terms = [
            f"(CASE WHEN ascii(substring({s_col}, {idx(oa)}, 1)) > "
            f"ascii(substring({s_col}, {idx(ob)}, 1)) "
            f"THEN {1 << (bit - b * per)} ELSE 0 END)"
            for bit, oa, ob in offs[b * per : (b + 1) * per]
        ]
        out.append("(" + " + ".join(terms) + ")")
    return out


def dhash_gray(
    df: DataFrame,
    payload_col: str = "payload",
    width_col: str = "width",
    height_col: str = "height",
    hash_w: int = 8,
    hash_h: int = 8,
) -> DataFrame:
    """General-path dHash over raw grayscale rasters of ARBITRARY
    per-row dimensions: ``resize_raw_gray`` to (hash_w+1) x hash_h,
    then vectorized adjacent-column comparison.  Returns (media_id,
    dhash_bits array<int> of hash_w*hash_h 0/1) — Arrow-batched, one
    numpy pass per image.  For fixed-dimension rasters prefer the
    pure-column ``dhash_band_exprs`` path (no Python at all).
    """
    import numpy as np
    import pandas as pd

    small = resize_raw_gray(
        df, hash_w + 1, hash_h, payload_col, width_col, height_col
    )

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            ids, bits = [], []
            for mid, px in zip(pdf["media_id"], pdf["pixels"]):
                ids.append(mid)
                if px is None:
                    bits.append(None)
                    continue
                img = np.frombuffer(bytes(px), dtype=np.uint8).reshape(
                    hash_h, hash_w + 1
                )
                bits.append(
                    (img[:, :-1] > img[:, 1:]).astype(np.int32).ravel().tolist()
                )
            yield pd.DataFrame({"media_id": ids, "dhash_bits": bits})

    return small.mapInPandas(
        batches, schema="media_id long, dhash_bits array<int>"
    )


# phash_near_dup_pairs' most recent persisted hash proxy
_last_hash_proxy: DataFrame | None = None


def phash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 3,
    src_w: int = 16,
    src_h: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """Perceptual-hash near-duplicate pairs over a corpus whose
    'image' is a src_w x src_h character raster STRETCH-RESAMPLED
    from the whole text (``media_from_documents``-style deterministic
    stand-in payloads so the plumbing is real while decoders stay
    stubbed).  Stretching — raster offset o reads char
    floor(o*len/npix) — is what a real decode-and-resize produces: a
    frame full of content.  The first-256-chars-space-padded
    convention this replaces made every short document's raster tail
    a constant all-padding region, so entire 16-bit Hamming bands
    collided corpus-wide (one 15k-doc bucket at the 10x scale probe =
    111M candidate pairs, 68x wall-clock); no real image has a
    constant frame, and no stretched raster does either.

    Candidate generation is the SimHash/LSH band trick in Hamming
    space: the 64 dHash bits split into ``n_bands`` keys; any pair
    within ``max_dist < n_bands`` differing bits shares at least one
    unchanged band (pigeonhole), so band-equality candidates have
    GUARANTEED recall — never an all-pairs product.  The hash rows
    explode to (band, bucket) and meet in ONE equi-join on that key
    (the lsh_buckets/candidate_pairs shape, dedup.py:168) with the
    full band vector carried through — pairs only materialize inside
    equal-key buckets, AQE splits a skewed band key, and verification
    is exact: sum of per-band xor popcounts <= max_dist.

    Returns (id_a, id_b, hamming_dist), id_a < id_b, each pair once.
    """
    if not 0 <= max_dist < n_bands:
        raise ValueError("banding guarantees recall only for max_dist < n_bands")
    exprs = dhash_band_exprs(
        "__s", src_w, src_h, n_bands=n_bands,
        stretch_len_expr="greatest(length(__s), 1)",
    )
    from .skew import spread_small_scan

    # the raster/dHash algebra is the dominant per-row cost and fuses
    # into the corpus scan — spread a single-task sandbox scan before
    # computing it (r15; no-op at corpus scale)
    hashed = spread_small_scan(
        df.select(
            F.col(id_col).alias("__id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("__s"),
        )
    ).select(
        "__id",
        *[F.expr(e).cast("long").alias(f"b{i}") for i, e in enumerate(exprs)],
    )
    # materialize the hash proxy ONCE (id + n_bands longs — the
    # lightweight decision rows of guide §8, never the payload): both
    # self-join branches otherwise re-evaluate the ~64-bit dHash
    # expression tree over the full corpus, and the raster algebra is
    # the dominant per-row cost.  AQE picks the join strategy from the
    # materialized side's RUNTIME size (broadcast at bench scale,
    # sort-merge at corpus scale) — no stats-blind forced broadcast.
    # r15 (VERDICT item 8): persist(DISK_ONLY) + an eager count
    # replaces the corpus-sized localCheckpoint — same one-pass
    # materialization and runtime stats, but the lineage stays
    # RECOMPUTABLE (localCheckpoint blocks are not fault-tolerant: an
    # executor loss kills the job at 100 TB instead of recomputing).
    # Measured sf0.1 min-of-4 (r14, checkpoint): full query 4.62 ->
    # ~1.4 s; the persist form A/B-matches it (r15).
    # The returned frame is lazy, so its proxy stays cached until the
    # caller's action; the PREVIOUS call's proxy is released here, so a
    # session holds one corpus-sized disk cache however many inputs it
    # hashes.  A repeat call on the same input keeps and reuses its
    # cache.
    from pyspark import StorageLevel

    global _last_hash_proxy
    prev = _last_hash_proxy
    if (
        prev is not None
        and prev.sparkSession is hashed.sparkSession
        and not prev.sameSemantics(hashed)
    ):
        prev.unpersist()
    hashed = hashed.persist(StorageLevel.DISK_ONLY)
    hashed.count()  # populate the cache eagerly (all columns)
    _last_hash_proxy = hashed
    exploded = hashed.select(
        "__id",
        *[F.col(f"b{i}") for i in range(n_bands)],
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"), F.col(f"b{b}").alias("bucket")
                )
                for b in range(n_bands)
            ])
        ).alias("bb"),
    ).select(
        "__id",
        *[F.col(f"b{i}") for i in range(n_bands)],
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    a = exploded.select(
        F.col("__id").alias("id_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(n_bands)],
        "band",
        "bucket",
    )
    b = exploded.select(
        F.col("__id").alias("id_b"),
        *[F.col(f"b{i}").alias(f"c{i}") for i in range(n_bands)],
        "band",
        "bucket",
    )
    dist = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}")))
        for i in range(n_bands)
    )
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming_dist", dist.cast("int"))
        .filter(F.col("hamming_dist") <= max_dist)
        .select("id_a", "id_b", "hamming_dist")
    )

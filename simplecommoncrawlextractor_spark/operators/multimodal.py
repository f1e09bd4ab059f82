"""Multimodal column operators: images as opaque ``binary`` columns with
typed metadata.

``image_features`` reports each payload's sniffed MIME type, byte count
and TRUE width and height, read from the format's own header: BMP
(BITMAPINFOHEADER or larger), PNG (IHDR), binary PPM (P6), WebP (VP8,
VP8L, VP8X) and JPEG (any SOFn frame header). No pixels are decoded. The
``feat`` column is the labelled deterministic stub of
``_decode_image_stub``, which also supplies the dimensions when no header
parses; swap in PIL/libav by replacing that one function. Batch shape:
mapInPandas receives an iterator of Arrow batches and yields one output
frame per input frame, so memory stays bounded regardless of payload size.
"""

from __future__ import annotations

import binascii
import re
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_FEATURES_SCHEMA = (
    "media_ref string, mime string, width int, height int, n_bytes long, "
    "feat array<float>"
)


def _decode_image_stub(payload: bytes) -> tuple[int, int, np.ndarray]:
    """DETERMINISTIC FAKE decoder (the package depends on no image
    library): derives a (width, height, 8-dim feature) from the payload
    bytes. ``feat`` always comes from here; width and height only when
    ``image_dims`` finds no header. Replace with a real decode
    (PIL.Image.open + thumbnail + embedding) in production — the
    surrounding Spark plumbing does not change."""
    h = np.frombuffer(payload[:64].ljust(64, b"\0"), dtype=np.uint8).astype(np.float32)
    width = int(64 + (h[:8].sum() % 1984))
    height = int(64 + (h[8:16].sum() % 1984))
    feat = (h.reshape(8, 8).mean(axis=1) / 255.0).astype(np.float32)
    return width, height, feat


# P6 header: magic, width, height, maxval, each separated by whitespace
# or '#' comment lines, and exactly one whitespace byte before the pixels
_PPM_SEP = rb"(?:\s|#[^\n]*\n)+"
_PPM_HEADER = re.compile(
    rb"P6" + _PPM_SEP + rb"(\d+)" + _PPM_SEP + rb"(\d+)" + _PPM_SEP + rb"\d+\s"
)


def image_dims(payload: bytes) -> tuple[int, int]:
    """TRUE (width, height) from the image header, without decoding any
    pixels; the stub's dimensions when no header parses (garbage,
    truncation, zero or out-of-range sizes)."""
    dims = None
    try:
        if payload[:2] == b"BM":
            # BITMAPINFOHEADER or larger; a negative height marks top-down rows
            (hdr_size,) = struct.unpack_from("<I", payload, 14)
            w, h = struct.unpack_from("<ii", payload, 18)
            if hdr_size >= 40:
                dims = w, abs(h)
        elif payload[:8] == b"\x89PNG\r\n\x1a\n":
            # IHDR must be the first chunk, with all 13 data bytes present
            if payload[12:16] == b"IHDR" and len(payload) >= 29:
                dims = struct.unpack_from(">II", payload, 16)
        elif payload[:2] == b"P6":
            m = _PPM_HEADER.match(payload)
            if m:
                dims = int(m[1]), int(m[2])
        elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            tag = payload[12:16]
            if tag == b"VP8 " and payload[23:26] == b"\x9d\x01\x2a":
                w, h = struct.unpack_from("<HH", payload, 26)
                dims = (w & 0x3FFF), (h & 0x3FFF)
            elif tag == b"VP8L" and payload[20:21] == b"\x2f":
                (bits,) = struct.unpack_from("<I", payload, 21)
                dims = (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
            elif tag == b"VP8X" and len(payload) >= 30:
                # length-guarded: int.from_bytes over a short slice would
                # silently yield 0 and report a fabricated 1x1
                wm = int.from_bytes(payload[24:27], "little") + 1
                hm = int.from_bytes(payload[27:30], "little") + 1
                dims = wm, hm
        elif payload[:2] == b"\xff\xd8":  # JPEG: the first SOFn frame header
            pos, n = 2, len(payload)
            while pos + 4 <= n and payload[pos] == 0xFF:
                # standards-legal 0xFF fill bytes may pad before a marker
                while pos + 1 < n and payload[pos + 1] == 0xFF:
                    pos += 1
                marker = payload[pos + 1]
                if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                    pos += 2
                    continue
                (seglen,) = struct.unpack_from(">H", payload, pos + 2)
                if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                              0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                    h, w = struct.unpack_from(">HH", payload, pos + 5)
                    dims = w, h
                    break
                pos += 2 + seglen
    except (struct.error, IndexError):
        dims = None
    # the width and height columns are int32
    if dims is not None and 0 < dims[0] < 1 << 31 and 0 < dims[1] < 1 << 31:
        return dims
    width, height, _ = _decode_image_stub(payload)
    return width, height


def image_features(media: DataFrame, ref_col: str = "media_ref", payload_col: str = "payload") -> DataFrame:
    """media_ref + binary payload → typed image metadata + stub feature vector.

    mapInPandas: one Arrow batch in, one out; only the header parse and
    the sniff run in Python, everything around them is Arrow."""
    from ..functions.sniff import _sniff_one

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            data = [b if b is not None else b"" for b in payloads]
            dims = [image_dims(b) for b in data]
            yield pd.DataFrame(
                {
                    "media_ref": pdf[ref_col],
                    "mime": [_sniff_one(b) for b in payloads],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "n_bytes": [len(b) for b in data],
                    "feat": [_decode_image_stub(b)[2] for b in data],
                }
            )

    return media.mapInPandas(gen, IMAGE_FEATURES_SCHEMA)


# a valid 54-byte header for a 4×4 24bpp BI_RGB BMP (stride 12, no pad):
# the synthesized payloads below append 48 pixel bytes derived from the
# media_ref, producing REAL decodable bitmaps for the bmp bucket
_BMP_4X4_HEADER = (
    b"BM" + struct.pack("<IHHI", 102, 0, 0, 54)
    + struct.pack("<IiiHHIIiiII", 40, 4, 4, 1, 24, 0, 48, 0, 0, 0, 0)
)

# constant pieces of a REAL 4×4 8-bit RGB PNG whose 48 pixel bytes come
# from the media_ref: signature + IHDR (with true CRC), a level-0
# (stored-block) zlib prefix for the 52-byte filtered scanline payload,
# and IEND. The IDAT CRC is computed per row with F.crc32 column-side;
# the adler32 trailer is a placeholder (not column-expressible).
_PNG_IHDR_DATA = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
_PNG_PREFIX = (
    b"\x89PNG\r\n\x1a\n"
    + struct.pack(">I", 13) + b"IHDR" + _PNG_IHDR_DATA
    + struct.pack(">I", binascii.crc32(b"IHDR" + _PNG_IHDR_DATA))
    + struct.pack(">I", 2 + 5 + 52 + 4)  # IDAT length
    + b"IDAT"
)
_PNG_ZHDR = b"\x78\x01" + b"\x01" + struct.pack("<HH", 52, 52 ^ 0xFFFF)
_PNG_IEND = struct.pack(">I", 0) + b"IEND" + struct.pack(">I", binascii.crc32(b"IEND"))


def media_payloads_from_docs(docs: DataFrame) -> DataFrame:
    """Extract media spans from interleaved documents and synthesize their
    payload bytes deterministically from the media_ref (sandbox stand-in
    for reading the payload store). The PNG and BMP buckets are well-formed
    4×4 images whose pixels derive from the ref, so ``image_dims`` reads
    their true headers; the JPEG and WebP buckets carry only the magic
    bytes and fall back to the stub's dimensions."""
    media = docs.select(F.explode("spans").alias("span")).filter(
        F.col("span.kind") == "media"
    )
    ref = F.col("span.media_ref")
    seed = F.abs(F.xxhash64(ref))
    ref_bytes = F.encode(F.repeat(ref, 8), "utf-8")
    bmp = F.concat(
        F.lit(_BMP_4X4_HEADER).cast("binary"), F.substring(ref_bytes, 1, 48)
    )
    # REAL PNG, built entirely column-side: 4 scanlines of (filter 0 +
    # 12 ref-derived RGB bytes) in a stored deflate block, IDAT CRC via
    # F.crc32 rendered to big-endian bytes through hex
    scanlines = F.concat(
        *[
            c
            for r in range(4)
            for c in (
                F.lit(b"\x00").cast("binary"),
                F.substring(ref_bytes, 1 + 12 * r, 12),
            )
        ]
    )
    idat_data = F.concat(
        F.lit(_PNG_ZHDR).cast("binary"), scanlines,
        F.lit(b"\x00\x00\x00\x00").cast("binary"),  # adler placeholder
    )
    idat_crc = F.to_binary(
        F.format_string("%08x", F.crc32(F.concat(F.lit(b"IDAT").cast("binary"), idat_data))),
        F.lit("hex"),
    )
    png = F.concat(
        F.lit(_PNG_PREFIX).cast("binary"), idat_data, idat_crc,
        F.lit(_PNG_IEND).cast("binary"),
    )
    body = (
        F.when(F.pmod(seed, F.lit(4)) == 0, png)
        .when(F.pmod(seed, F.lit(4)) == 1, F.concat(F.lit(b"\xff\xd8\xff\xe0").cast("binary"), ref_bytes))
        .when(F.pmod(seed, F.lit(4)) == 2, bmp)
        .otherwise(F.concat(F.lit(b"RIFF1234WEBP").cast("binary"), ref_bytes))
    )
    return media.select(ref.alias("media_ref"), body.alias("payload")).distinct()

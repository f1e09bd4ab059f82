"""WebP payloads, lossless (VP8L, bare or inside a VP8X extended header)
and lossy (VP8): true dimensions from the RIFF chunk headers, the stub's
dimensions when a VP8L chunk does not parse. No pixels are decoded."""

from __future__ import annotations

import struct

from simplecommoncrawlextractor_spark.functions.sniff import _sniff_one
from simplecommoncrawlextractor_spark.operators.multimodal import (
    _decode_image_stub,
    image_dims,
)

# a real 2×2 lossless WebP: four literal ARGB pixels (200,10,30),
# (5,250,120), (5,250,120), (200,10,30) under simple prefix codes
_WEBP_LOSSLESS_2X2 = bytes.fromhex(
    "524946461c000000574542505650384c100000002f01400000b882fe0b90ef81d7ff502b"
)
# a real 2×2 lossless WebP of one gray (90,90,90), its VP8L chunk
# preceded by a VP8X chunk declaring a 2×2 canvas
_WEBP_VP8X_VP8L_2X2 = bytes.fromhex(
    "524946462a00000057454250565038580a00000000000000010000010000"
    "5650384c0c0000002f01400000a856b5aad5ff00"
)


def test_decline_paths_fall_back():
    # the VP8L signature byte (0x2f) is missing
    bad_sig = bytearray(_WEBP_LOSSLESS_2X2)
    bad_sig[20] = 0x2E
    # the chunk ends before its 28 dimension bits
    truncated = _WEBP_LOSSLESS_2X2[:23]
    for junk in (bytes(bad_sig), truncated):
        assert image_dims(junk) == _decode_image_stub(junk)[:2], junk
    # the largest VP8L canvas (2^14 per side) needs no pixel budget: only
    # its header is read
    bits = ((1 << 14) - 1) | (((1 << 14) - 1) << 14)
    chunk = b"\x2f" + struct.pack("<I", bits)
    big = (b"RIFF" + struct.pack("<I", 4 + 8 + len(chunk)) + b"WEBP"
           + b"VP8L" + struct.pack("<I", len(chunk)) + chunk)
    assert image_dims(big) == (1 << 14, 1 << 14)


def test_decode_image_dispatch_real_webp_lossless():
    assert _sniff_one(_WEBP_LOSSLESS_2X2) == "image/webp"
    assert image_dims(_WEBP_LOSSLESS_2X2) == (2, 2)


def test_decode_image_vp8x_wrapped_vp8l():
    assert _sniff_one(_WEBP_VP8X_VP8L_2X2) == "image/webp"
    assert image_dims(_WEBP_VP8X_VP8L_2X2) == (2, 2)


def test_lossy_vp8_still_reports_header_dims():
    vp8 = (b"RIFF" + struct.pack("<I", 30) + b"WEBP" + b"VP8 "
           + struct.pack("<I", 16) + b"\x00" * 3 + b"\x9d\x01\x2a"
           + struct.pack("<HH", 64, 48) + b"\x00" * 6)
    assert image_dims(vp8) == (64, 48)

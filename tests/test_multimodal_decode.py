"""Image header dimensions (BMP, PNG, PPM, WebP, JPEG), fallback to the
documented stub for anything else, bounded handling of hostile payloads,
and the pinned gate rows."""

from __future__ import annotations

import binascii
import hashlib
import os
import struct
import time
import zlib

import numpy as np
import pytest

from simplecommoncrawlextractor_spark.functions.sniff import _sniff_one
from simplecommoncrawlextractor_spark.operators.multimodal import (
    _decode_image_stub,
    image_dims,
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _make_bmp(width, height, bpp=24, top_down=False, hdr_size=40):
    """An uncompressed BI_RGB BMP of mid-gray pixels."""
    stride = ((width * bpp // 8) + 3) & ~3
    body = b"\x7f" * stride * height
    h_field = -height if top_down else height
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
    hdr += struct.pack("<IiiHHIIiiII", hdr_size, width, h_field, 1, bpp, 0, len(body), 0, 0, 0, 0)
    return hdr + body


def _chunk(tag, data):
    return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", binascii.crc32(tag + data))


def _make_png(width, height):
    """A real 8-bit RGB PNG: IHDR, one zlib IDAT of filter-0 scanlines, IEND."""
    raw = (b"\x00" + b"\x7f" * 3 * width) * height
    return (
        _PNG_SIG + _chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")
    )


def _stub_dims(payload):
    w, h, _ = _decode_image_stub(payload)
    return w, h


def test_bmp_header_dims():
    for top_down in (False, True):
        for bpp in (24, 32):
            assert image_dims(_make_bmp(3, 2, bpp=bpp, top_down=top_down)) == (3, 2)
    # BITMAPV5HEADER (124 bytes) is larger than BITMAPINFOHEADER: still read
    assert image_dims(_make_bmp(5, 7, hdr_size=124)) == (5, 7)
    assert _sniff_one(_make_bmp(3, 2)) == "image/bmp"


def test_png_header_dims():
    assert image_dims(_make_png(9, 8)) == (9, 8)
    assert image_dims(_make_png(1, 300)) == (1, 300)
    assert _sniff_one(_make_png(9, 8)) == "image/png"


def test_ppm_decode_with_comment():
    payload = b"P6\n# a comment\n3 2\n255\n" + bytes([10, 20, 30] * 6)
    assert image_dims(payload) == (3, 2)
    # comments may sit between any two header fields
    assert image_dims(b"P6 640\n# w above, h below\n480 # maxval next\n15\n") == (640, 480)
    assert _sniff_one(payload) == "image/x-portable-pixmap"


def test_malformed_falls_back_to_stub():
    png_ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    for junk in (
        b"",
        b"BMshort",                                    # truncated header
        b"BM" + b"\x00" * 60,                          # all-zero header
        _make_bmp(0, 2),                               # zero width
        _make_bmp(2, 0),                               # zero height
        _make_bmp(-2, 2),                              # negative width
        _make_bmp(2, 2, hdr_size=12),                  # BITMAPCOREHEADER (< 40)
        b"P6 3 2 255",                                 # no byte after maxval
        b"P6\n3\n255\n" + b"\x00" * 9,                 # missing height
        b"P6\n3 x 255\n",                              # non-numeric height
        _PNG_SIG + b"pretend",                         # no chunk at all
        _PNG_SIG + struct.pack(">I", 13) + b"IHDR" + png_ihdr[:4],  # truncated IHDR
        _PNG_SIG + _chunk(b"IDAT", png_ihdr),          # wrong first chunk tag
        _PNG_SIG + _chunk(b"IHDR", struct.pack(">IIBBBBB", 0, 4, 8, 2, 0, 0, 0)),
        _PNG_SIG + _chunk(b"IHDR", struct.pack(">IIBBBBB", 1 << 31, 4, 8, 2, 0, 0, 0)),
        b"RIFF1234WEBPVP8X\x0a\x00\x00\x00\x00",       # VP8X shorter than its canvas
        b"\xff\xd8\xff\xe0\x00\x10JFIF\x00",           # JPEG without a frame header
    ):
        assert image_dims(junk) == _stub_dims(junk), junk


def test_jpeg_truncated_segments_fall_back_to_stub():
    """Malformed/truncated marker streams (routine in crawl data) must
    fall back to the stub, never raise out of the Arrow batch."""
    for junk in (
        b"\xff\xd8\xff\xc0\x00\x04\x08\x00",        # short SOF0
        b"\xff\xd8\xff\xdb\x00\x05\x00\x01",        # short DQT
        b"\xff\xd8\xff\xc4\x00\x04\x00\x00",        # short DHT
        b"\xff\xd8\xff\xdd\x00\x02",                # empty DRI
        b"\xff\xd8\xff\xda\x00\x02",                # empty SOS
    ):
        assert image_dims(junk) == _stub_dims(junk), junk
    # a stream whose SOF header IS readable reports the declared dims
    short_comps = b"\xff\xd8\xff\xc0\x00\x0b\x08\x00\x10\x00\x10\x03\x01"
    assert image_dims(short_comps) == (16, 16)


def test_header_dims_webp_and_progressive_jpeg():
    """WEBP (VP8/VP8L/VP8X) and progressive-JPEG payloads report TRUE
    dimensions from their headers."""
    # VP8 lossy: RIFF + 'VP8 ' chunk, frame tag, 9D 01 2A, 14-bit w/h
    vp8_payload = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
                   + struct.pack("<HH", 320, 240) + b"\x00" * 8)
    vp8 = (b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8_payload)) + b"WEBP"
           + b"VP8 " + struct.pack("<I", len(vp8_payload)) + vp8_payload)
    assert image_dims(vp8) == (320, 240)

    # VP8L lossless: signature 0x2f then 14+14 bit dims-1 little-endian
    bits = (127 - 1) | ((63 - 1) << 14)
    vp8l_payload = b"\x2f" + struct.pack("<I", bits) + b"\x00" * 4
    vp8l = (b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8l_payload)) + b"WEBP"
            + b"VP8L" + struct.pack("<I", len(vp8l_payload)) + vp8l_payload)
    assert image_dims(vp8l) == (127, 63)

    # VP8X extended: 24-bit canvas dims minus one
    vp8x_payload = (b"\x00" + b"\x00\x00\x00"
                    + (799).to_bytes(3, "little") + (599).to_bytes(3, "little"))
    vp8x = (b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8x_payload)) + b"WEBP"
            + b"VP8X" + struct.pack("<I", len(vp8x_payload)) + vp8x_payload)
    assert image_dims(vp8x) == (800, 600)

    # progressive JPEG (SOF2), preceded by 0xFF fill bytes
    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    prog = (b"\xff\xd8"
            + seg(0xE0, b"JFIF\x00")
            + b"\xff\xff"
            + seg(0xC2, struct.pack(">BHHB", 8, 77, 55, 3) + b"\x01\x11\x00\x02\x11\x00\x03\x11\x00")
            + b"\xff\xd9")
    assert image_dims(prog) == (55, 77)


def _assert_header_dims_and_stub_feat(spark, cases, mime):
    """Run ``image_features`` over the payloads of ``cases`` (pairs of
    payload and expected dims): each row reports the header dims, the
    sniffed ``mime`` and the stub ``feat``, and no payload fails the batch."""
    from simplecommoncrawlextractor_spark.operators.multimodal import image_features

    df = spark.createDataFrame(
        [(str(i), p) for i, (p, _) in enumerate(cases)], "media_ref string, payload binary"
    )
    rows = sorted(image_features(df).collect(), key=lambda r: int(r["media_ref"]))
    assert len(rows) == len(cases)
    for (payload, dims), r in zip(cases, rows):
        assert (r["width"], r["height"]) == dims
        assert r["mime"] == mime
        assert r["n_bytes"] == len(payload)
        assert np.array_equal(np.asarray(r["feat"], dtype=np.float32), _decode_image_stub(payload)[2])


def test_bmp_compressed_or_weird_bpp_rejected(spark):
    """No BMP is pixel-decoded: an RLE8-compressed or a 7-bpp bitmap
    reports its header dims with the stub feat."""
    rle = bytearray(_make_bmp(2, 2))
    struct.pack_into("<I", rle, 30, 1)  # BI_RLE8 compression
    odd = bytearray(_make_bmp(2, 2))
    struct.pack_into("<H", odd, 28, 7)  # 7 bits per pixel
    _assert_header_dims_and_stub_feat(
        spark, [(bytes(rle), (2, 2)), (bytes(odd), (2, 2))], "image/bmp"
    )


def test_png_corrupt_crc_or_exotic_falls_back_to_stub(spark):
    """Only the IHDR is read: a corrupt IDAT CRC or a palette colour type
    still reports the IHDR dims, and feat stays the stub."""
    bad_crc = bytearray(_make_png(2, 2))
    bad_crc[-13] ^= 0xFF  # last IDAT CRC byte (IEND is the final 12 bytes)
    pal = bytearray(_make_png(2, 2))
    pal[8 + 8 + 9] = 3  # IHDR colour-type byte
    _assert_header_dims_and_stub_feat(
        spark, [(bytes(bad_crc), (2, 2)), (bytes(pal), (2, 2))], "image/png"
    )


def test_png_zip_bomb_is_bounded():
    """A 1×1 PNG whose IDAT inflates to 64 MB: its dims come from IHDR
    and nothing is inflated, so memory stays bounded."""
    import tracemalloc

    # 4 real bytes (filter 0 + one RGB pixel) then 64 MB of zero filler
    idat = zlib.compress(b"\x00\x0a\x14\x1e" + b"\x00" * (64 << 20), 9)
    payload = (
        _PNG_SIG + _chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")
    )
    assert len(payload) < 200_000  # the bomb compresses tiny
    tracemalloc.start()
    dims = image_dims(payload)
    feat = _decode_image_stub(payload)[2]
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert dims == (1, 1)
    assert feat.shape == (8,)
    assert peak < 8 << 20, f"inflate not bounded: peak {peak} bytes"


def test_png_all_paeth_cpu_budget_falls_back_to_stub(spark):
    """A 1024×1100 RGBA PNG of Paeth-filtered rows (~4.5 MiB of
    scanlines) costs no per-byte Python work: the IHDR gives its dims
    and feat is the stub."""
    stride, rows = 1024 * 4, 1100
    raw = (b"\x04" + b"\x00" * stride) * rows
    payload = (
        _PNG_SIG + _chunk(b"IHDR", struct.pack(">IIBBBBB", 1024, rows, 8, 6, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw, 1)) + _chunk(b"IEND", b"")
    )
    t0 = time.perf_counter()
    assert image_dims(payload) == (1024, rows)
    assert time.perf_counter() - t0 < 1.0
    _assert_header_dims_and_stub_feat(spark, [(payload, (1024, rows))], "image/png")


def _seg(marker, payload):
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


_DQT = _seg(0xDB, bytes([0x00]) + bytes([1] * 64))


def _make_jpeg(sof_marker, width, height, scan=bytes([1, 1, 0x00, 0, 63, 0])):
    """SOI, DQT, a one-component SOFn frame, a one-code DC table, one SOS
    header with no entropy data, EOI."""
    dc_counts = [1] + [0] * 15
    return (
        b"\xff\xd8" + _DQT
        + _seg(sof_marker, bytes([8]) + struct.pack(">HH", height, width) + bytes([1, 1, 0x11, 0]))
        + _seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes([0]))
        + _seg(0xDA, scan) + b"\xff\xd9"
    )


def test_jpeg_rejects_progressive_and_oversize(spark):
    """Neither a progressive frame carrying a sequential full-band scan
    (illegal under T.81) nor a 2048×2048 frame is decoded: both report
    their SOFn dims with the stub feat."""
    prog = _make_jpeg(0xC2, 8, 8)
    big = _make_jpeg(0xC0, 2048, 2048)
    _assert_header_dims_and_stub_feat(
        spark, [(prog, (8, 8)), (big, (2048, 2048))], "image/jpeg"
    )


def test_jpeg_hostile_dc_size_category_declines(spark):
    """A DHT whose DC symbol is 62 (a raw untrusted byte, far past the
    legal size categories) is never interpreted: the frame reports its
    SOF0 dims with the stub feat, and nothing raises."""
    out = b"\xff\xd8" + _DQT
    out += _seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
    dc_counts = [0] * 16
    dc_counts[3] = 1  # one 4-bit code: 0b0000 -> symbol 62
    out += _seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes([62]))
    ac_counts = [0] * 16
    ac_counts[8] = 255
    out += _seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes(range(255)))
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    # entropy: DC code 0000 then 62 magnitude bits of 1s
    out += b"\x0f" + b"\xff\x00" * 8 + b"\xff\xd9"
    _assert_header_dims_and_stub_feat(spark, [(out, (8, 8))], "image/jpeg")


def test_jpeg_scan_stuffing_budget_declines(spark):
    """17 DC scans over a 1024×1024 progressive frame cost nothing: the
    header walk stops at the SOF2 frame, well inside a one-second budget."""
    out = b"\xff\xd8" + _DQT
    out += _seg(0xC2, bytes([8]) + struct.pack(">HH", 1024, 1024) + bytes([1, 1, 0x11, 0]))
    dc_counts = [0] * 16
    dc_counts[3] = 12
    out += _seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(range(12)))
    for _ in range(17):  # DC-first scans, empty entropy segments
        out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0]))
    out += b"\xff\xd9"
    t0 = time.perf_counter()
    assert image_dims(out) == (1024, 1024)
    assert time.perf_counter() - t0 < 1.0
    _assert_header_dims_and_stub_feat(spark, [(out, (1024, 1024))], "image/jpeg")


def test_spark_synthesized_png_is_real(spark, sf_dir):
    """The PNG bucket of media_payloads_from_docs is a well-formed 4×4
    PNG: its IHDR is read, and its IDAT inflates to four filter-0
    scanlines holding the first 48 ref bytes."""
    from simplecommoncrawlextractor_spark.operators.multimodal import (
        media_payloads_from_docs,
    )
    from simplecommoncrawlextractor_spark.sources import interleaved_documents

    media = media_payloads_from_docs(interleaved_documents(spark, sf_dir)).collect()
    n_png = 0
    for r in media:
        b = bytes(r["payload"])
        if not b.startswith(_PNG_SIG):
            continue
        n_png += 1
        assert image_dims(b) == (4, 4)
        (idat_len,) = struct.unpack_from(">I", b, 33)
        assert b[37:41] == b"IDAT"
        # raw inflate past the 2-byte zlib header: the adler32 trailer is a
        # placeholder, so a checking zlib reader would reject the stream
        raw = zlib.decompressobj(-15).decompress(b[43 : 41 + idat_len])
        ref = (r["media_ref"] * 8).encode()[:48]
        assert raw == b"".join(b"\x00" + ref[12 * i : 12 * i + 12] for i in range(4))
    assert n_png > 0


# (row count, sha256 of the sorted rows as tab-separated fields, one row
# per line) of the multimodal_image_features gate query, recorded while
# the dimensions still came from full pixel decoders
_GATE_PINS = {
    "sf0.001": (383, "334b770b6319ea70bbe345287053efbf2e96bee79212fb4d7df92a1527ccb605"),
    "sf0.01": (383, "334b770b6319ea70bbe345287053efbf2e96bee79212fb4d7df92a1527ccb605"),
    "sf0.1": (509, "ea49934837205208ea585b87d0f021881360a613ab506b89214fb639eceeccf7"),
}


def test_gate_rows_pinned(spark, sf_dir):
    pin = _GATE_PINS.get(os.path.basename(os.path.normpath(sf_dir)))
    if pin is None:
        pytest.skip(f"no gate pin for {sf_dir}")
    import __spark_entry__ as entry

    q = entry.queries()["multimodal_image_features"]
    rows = sorted(tuple(r) for r in q(spark, sf_dir).collect())
    text = "\n".join("\t".join(map(str, r)) for r in rows)
    assert (len(rows), hashlib.sha256(text.encode()).hexdigest()) == pin

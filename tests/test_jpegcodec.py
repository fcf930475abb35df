"""Malformed-payload guards of `extraction/imagecodec.py::decode_image`
for PNG and BMP: truncated or corrupt payloads and implausible claimed
dims must surface as ``UnsupportedImageError`` before any plane is
allocated.  The JPEG codec these guards were first written for has been
removed."""

from __future__ import annotations

import pytest

from swisscourtrulingcorpus_spark.extraction.imagecodec import (
    UnsupportedImageError,
    decode_image,
)


def test_malformed_png_bmp_payloads_raise_unsupported_only():
    """r05 review pass 2: the error contract lives in decode_image —
    truncated/corrupt PNG and BMP must also surface as
    UnsupportedImageError, not zlib.error/struct.error."""
    from swisscourtrulingcorpus_spark.extraction.imagecodec import encode_png

    good_png = encode_png(4, 4, 3, bytes(range(48)))
    i = good_png.find(b"IDAT")
    corrupt_idat = good_png[: i + 6] + b"\x00" * 8 + good_png[i + 14 :]
    bad = [
        good_png[:20],  # truncated IHDR/IDAT
        corrupt_idat,  # zeroed zlib stream -> zlib.error
        b"BM" + bytes(10),  # BMP header shorter than BITMAPINFOHEADER
        b"BM" + bytes(40),  # zeroed header fields
    ]
    for payload in bad:
        with pytest.raises(UnsupportedImageError):
            decode_image(payload)


def test_corrupt_dims_guards_png_bmp():
    """Implausible claimed dims in a tiny payload must raise before any
    plane is allocated — the JPEG-only OOM guard extended to PNG/BMP
    (r05 review): a ~60-byte BMP claiming a 50000x50000 plane, and a
    PNG whose IHDR claims more raw output than its IDAT could inflate."""
    import struct

    from swisscourtrulingcorpus_spark.extraction.imagecodec import (
        encode_bmp24,
        encode_png,
    )

    bomb_bmp = bytearray(encode_bmp24(2, 2, bytes(12)))
    struct.pack_into("<ii", bomb_bmp, 18, 50000, 50000)
    with pytest.raises(UnsupportedImageError, match="exceed"):
        decode_image(bytes(bomb_bmp))

    bomb_png = bytearray(encode_png(2, 2, 3, bytes(12)))
    ihdr = bytes(bomb_png).find(b"IHDR")
    struct.pack_into(">II", bomb_png, ihdr + 4, 40000, 40000)
    with pytest.raises(UnsupportedImageError, match="exceed"):
        decode_image(bytes(bomb_png))

    # dims claiming LESS than the stream inflates to -> bounded inflate
    # stops at expected+1 and reports the mismatch, never over-allocates
    small_dims = bytearray(encode_png(4, 4, 1, bytes(16)))
    ihdr = bytes(small_dims).find(b"IHDR")
    struct.pack_into(">II", small_dims, ihdr + 4, 2, 2)
    with pytest.raises(UnsupportedImageError, match="mismatch"):
        decode_image(bytes(small_dims))

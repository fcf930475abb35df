"""Pure-stdlib GIF codec (extraction/gifcodec.py): LZW width-growth and
reset schedules, container round trips, compositing, bad-row contracts."""

from __future__ import annotations

import struct

import pytest

from swisscourtrulingcorpus_spark.extraction.gifcodec import (
    UnsupportedGifError,
    _lzw_decode,
    _lzw_encode,
    _sub_blocks,
    decode_gif,
    encode_gif,
    frame_rgb,
)


def test_lzw_roundtrip_growth_and_reset():
    """Covers every width transition (3..12 bits), the 4096-entry
    dictionary reset, uniform runs (longest LZW chains), and the
    final-code phantom assignment that grows the decoder's width
    right before EOI (the bug class: EOI emitted one bit short)."""
    for n, mod in [(10, 4), (25, 3), (300, 7), (5000, 16), (30000, 97), (60000, 250)]:
        px = bytes((i * 37 + (i // 13)) % mod for i in range(n))
        mcs = max(2, (mod - 1).bit_length())
        assert bytes(_lzw_decode(mcs, _lzw_encode(mcs, px), n)) == px, (n, mod)
    for n in [1, 2, 63, 64, 4095, 20000]:
        px = bytes([1]) * n
        assert bytes(_lzw_decode(2, _lzw_encode(2, px), n)) == px, n


def test_gif_container_roundtrip_and_palette():
    w, h = 11, 7
    pal = [(i * 3 % 256, i * 5 % 256, i * 7 % 256) for i in range(6)]
    frames = [
        bytes((x + y + f) % 6 for y in range(h) for x in range(w))
        for f in range(3)
    ]
    gw, gh, gp, gf = decode_gif(encode_gif(w, h, pal, frames))
    assert (gw, gh, len(gf)) == (w, h, 3)
    assert [bytes(x) for x in gf] == list(frames)
    assert gp[:6] == pal  # padded table preserves the leading entries
    rgb = frame_rgb(gp, gf[0])
    assert rgb[:3] == bytes(pal[frames[0][0]])


def test_gif_partial_frame_composites_over_canvas():
    w, h = 11, 7
    pal = [(i, i, i) for i in range(6)]
    base_frame = bytes((x + y) % 6 for y in range(h) for x in range(w))
    base = encode_gif(w, h, pal, [base_frame])
    sub = bytes([5] * 6)
    img = (
        b"\x2c"
        + struct.pack("<HHHH", 2, 1, 3, 2)
        + b"\x00"
        + bytes([3])
        + _sub_blocks(_lzw_encode(3, sub))
    )
    _, _, _, frames = decode_gif(base[:-1] + img + b"\x3b")
    assert len(frames) == 2
    want = bytearray(base_frame)
    for y in range(2):
        for x in range(3):
            want[(1 + y) * w + 2 + x] = 5
    assert bytes(frames[1]) == bytes(want)


def test_gif_malformed_contracts():
    pal = [(0, 0, 0), (255, 255, 255)]
    good = encode_gif(3, 2, pal, [bytes([0, 1, 0, 1, 0, 1])])
    for bad in [b"notagif", good[:20], good[:-1]]:
        with pytest.raises(UnsupportedGifError):
            decode_gif(bad)
    # palette index outside the table is malformed, not an IndexError
    with pytest.raises(UnsupportedGifError):
        frame_rgb(pal, bytearray([0, 7]))


def test_decode_image_dispatch_sniffs_gif(spark):
    """The static-image dispatch returns the FIRST frame as RGB."""
    from swisscourtrulingcorpus_spark.extraction.imagecodec import decode_image

    pal = [(10, 20, 30), (40, 50, 60)]
    frames = [bytes([0, 1, 1, 0]), bytes([1, 1, 1, 1])]
    w, h, nch, px = decode_image(encode_gif(2, 2, pal, frames))
    assert (w, h, nch) == (2, 2, 3)
    assert bytes(px) == frame_rgb(pal, bytearray(frames[0]))


def test_gif_differing_local_color_table_raises():
    """A frame with its own DIFFERING local color table must raise
    (this codec returns one palette for all frames) — silently using
    the global table corrupted colors before the r06 review fix.  A
    local table that REPEATS the global prefix stays decodable."""
    import struct

    pal = [(1, 2, 3), (4, 5, 6)]
    base = encode_gif(3, 2, pal, [bytes([0, 1, 0, 1, 0, 1])])
    # image descriptor with a local table flag (2 entries) + new colors
    local = bytes([9, 9, 9, 8, 8, 8])
    img = (
        b"\x2c"
        + struct.pack("<HHHH", 0, 0, 3, 2)
        + bytes([0x80])  # local color table, size 2
        + local
        + bytes([2])
        + _sub_blocks(_lzw_encode(2, bytes([0, 1, 0, 1, 0, 1])))
    )
    with pytest.raises(UnsupportedGifError, match="local color table"):
        decode_gif(base[:-1] + img + b"\x3b")

    same = bytes([1, 2, 3, 4, 5, 6])
    img2 = (
        b"\x2c"
        + struct.pack("<HHHH", 0, 0, 3, 2)
        + bytes([0x80])
        + same
        + bytes([2])
        + _sub_blocks(_lzw_encode(2, bytes([1, 0, 1, 0, 1, 0])))
    )
    _, _, _, frames = decode_gif(base[:-1] + img2 + b"\x3b")
    assert len(frames) == 2

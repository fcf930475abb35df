"""Pure-stdlib GIF codec (87a/89a).

Same recipe as `imagecodec.py` / `videocodec.py`: the container is
plain struct parsing (logical screen descriptor, color tables, image
descriptors, extension blocks) and the pixel data is REAL GIF-variant
LZW — variable code width starting at min_code_size+1, growing at
dictionary size 2^width, CLEAR resets, EOI terminates, codes packed
little-endian across 255-byte sub-blocks.  Implemented from the public
GIF89a specification; the reference pipeline has no image stage at all,
no package code calls this module, and the codec is slated for removal
with the rest of the out-of-scope media codecs.

Animated GIFs decode to a frame list.  Frames after the first may be partial
(sub-rectangle updates); this codec composites each frame over the
previous full canvas (disposal method 1 semantics — the fixture's
encoder only emits full-canvas frames, and the compositing path is
unit-tested with a hand-built partial frame).

Malformed payloads raise ``UnsupportedGifError``; callers translate to
their null-stats contract exactly like the other codecs.
"""

from __future__ import annotations

import struct


class UnsupportedGifError(ValueError):
    """Payload is not a decodable GIF."""


# --- LZW -------------------------------------------------------------------


def _lzw_decode(min_code_size: int, data: bytes, n_expected: int) -> bytearray:
    """GIF-variant LZW: codes packed LSB-first; dictionary starts with
    2^min_code_size literals + CLEAR + EOI; width grows AFTER the
    dictionary reaches 2^width (capped at 12 bits)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()

    def reset():
        return (
            {i: bytes([i]) for i in range(clear)},
            min_code_size + 1,
            None,
        )

    table, width, prev = reset()
    next_code = eoi + 1
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table, width, prev = reset()
                next_code = eoi + 1
                continue
            if code == eoi:
                if len(out) < n_expected:
                    raise UnsupportedGifError(
                        f"EOI after {len(out)} of {n_expected} pixels"
                    )
                return out
            if prev is None:
                if code not in table:
                    raise UnsupportedGifError(f"first code {code} not literal")
                entry = table[code]
            elif code in table:
                entry = table[code]
            elif code == next_code:
                entry = table[prev] + table[prev][:1]
            else:
                raise UnsupportedGifError(f"LZW code {code} out of range")
            out += entry
            if prev is not None and next_code < 4096:
                table[next_code] = table[prev] + entry[:1]
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = code
            if len(out) > n_expected:
                raise UnsupportedGifError("LZW output exceeds frame size")
    raise UnsupportedGifError("LZW stream ended without EOI")


def _lzw_encode(min_code_size: int, pixels: bytes) -> bytes:
    """Inverse of :func:`_lzw_decode`, emitting CLEAR first and EOI
    last; dictionary resets via CLEAR when full (4096)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    buf = b""
    emitted_since_clear = 0
    for px in pixels:
        cand = buf + bytes([px])
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        emitted_since_clear += 1
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # The decoder's n-th dictionary assignment happens while
            # READING code n+1, so its width bump (at dict size 2^w)
            # first affects code n+2 — the encoder therefore grows one
            # assignment LATER than the dict-size check suggests:
            # after next_code exceeds the width's capacity.
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
            emitted_since_clear = 0
        buf = bytes([px])
    if buf:
        emit(table[buf], width)
        emitted_since_clear += 1
    # PHANTOM assignment for the final data code: the decoder assigns a
    # dictionary entry upon READING it (whenever it isn't the first
    # code since a clear), which can grow the decoder's width before it
    # reads EOI — mirror that growth or EOI is emitted one bit short.
    if emitted_since_clear >= 2 and next_code < 4096:
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# --- container -------------------------------------------------------------


def _sub_blocks(body: bytes) -> bytes:
    """Wrap raw bytes into 255-byte sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(body), 255):
        chunk = body[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _read_sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(data):
            raise UnsupportedGifError("unterminated sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += data[pos : pos + n]
        if len(data) < pos + n:
            raise UnsupportedGifError("truncated sub-block")
        pos += n


def encode_gif(
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
    frames: list[bytes],
    delay_cs: int = 4,
) -> bytes:
    """Encode palette-index frames (each ``width*height`` bytes) as a
    GIF89a with one global color table.  Palette length is padded to
    the next power of two (min 2)."""
    if not frames:
        raise ValueError("at least one frame")
    n = max(2, 1 << (len(palette) - 1).bit_length())
    pal = list(palette) + [(0, 0, 0)] * (n - len(palette))
    depth = n.bit_length() - 1  # log2(n)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | (depth - 1), 0, 0])  # GCT flag + size, bg, aspect
    for r, g, b in pal:
        out += bytes([r, g, b])
    for fr in frames:
        if len(frames) > 1:
            # graphics control: disposal 1 (leave), no transparency
            out += bytes([0x21, 0xF9, 4, 0x04]) + struct.pack(
                "<H", delay_cs
            ) + bytes([0, 0])
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        mcs = max(2, depth)
        out += bytes([mcs]) + _sub_blocks(_lzw_encode(mcs, fr))
    out += b"\x3b"
    return bytes(out)


def decode_gif(
    data: bytes,
) -> tuple[int, int, list[tuple[int, int, int]], list[bytearray]]:
    """Decode a GIF payload to ``(width, height, palette, frames)``
    with each frame a full-canvas palette-index plane (sub-rectangle
    frames composited over the previous canvas)."""
    try:
        if data[:6] not in (b"GIF87a", b"GIF89a"):
            raise UnsupportedGifError("not a GIF payload")
        width, height = struct.unpack("<HH", data[6:10])
        flags = data[10]
        pos = 13
        palette: list[tuple[int, int, int]] = []
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            for i in range(n):
                palette.append(
                    (data[pos + 3 * i], data[pos + 3 * i + 1], data[pos + 3 * i + 2])
                )
            pos += 3 * n
        frames: list[bytearray] = []
        canvas = bytearray(width * height)
        while pos < len(data):
            block = data[pos]
            pos += 1
            if block == 0x3B:  # trailer
                if not frames:
                    raise UnsupportedGifError("no image data before trailer")
                return width, height, palette, frames
            if block == 0x21:  # extension: label + sub-blocks, skipped
                pos += 1
                _, pos = _read_sub_blocks(data, pos)
                continue
            if block != 0x2C:
                raise UnsupportedGifError(f"unknown block {block:#x}")
            fx, fy, fw, fh = struct.unpack("<HHHH", data[pos : pos + 8])
            lflags = data[pos + 8]
            pos += 9
            if lflags & 0x40:
                raise UnsupportedGifError("interlaced GIF unsupported")
            if lflags & 0x80:
                n = 2 << (lflags & 0x07)
                local_pal = [
                    (data[pos + 3 * i], data[pos + 3 * i + 1], data[pos + 3 * i + 2])
                    for i in range(n)
                ]
                pos += 3 * n
                # this codec returns ONE palette for all frames; a
                # frame carrying its own differing table would decode
                # with wrong colors SILENTLY if ignored (r06 review) —
                # unsupported features raise, they don't corrupt
                if not palette:
                    palette = local_pal
                elif local_pal != palette[: len(local_pal)]:
                    raise UnsupportedGifError(
                        "per-frame local color table unsupported"
                    )
            mcs = data[pos]
            pos += 1
            lzw, pos = _read_sub_blocks(data, pos)
            plane = _lzw_decode(mcs, lzw, fw * fh)
            if len(plane) != fw * fh:
                raise UnsupportedGifError(
                    f"frame has {len(plane)} pixels, wants {fw * fh}"
                )
            if fx + fw > width or fy + fh > height:
                raise UnsupportedGifError("frame rectangle outside canvas")
            # composite the (possibly partial) frame over the canvas
            for y in range(fh):
                row = (fy + y) * width + fx
                canvas[row : row + fw] = plane[y * fw : (y + 1) * fw]
            frames.append(bytearray(canvas))
        raise UnsupportedGifError("missing trailer")
    except UnsupportedGifError:
        raise
    except (struct.error, ValueError, IndexError) as e:
        raise UnsupportedGifError(
            f"malformed GIF payload ({type(e).__name__}: {e})"
        ) from e


def frame_rgb(
    palette: list[tuple[int, int, int]], plane: bytearray
) -> bytes:
    """Palette-index plane -> flat RGB bytes (index outside the palette
    is a malformed payload).  Channel lookups run as three C-level
    ``translate`` passes + slice assignment, not a per-pixel Python
    loop (executor hot path, r06 review)."""
    n = len(palette)
    if plane and max(plane) >= n:
        raise UnsupportedGifError(
            f"palette index {max(plane)} >= {n}"
        )
    tables = [
        bytes(palette[i][c] if i < n else 0 for i in range(256))
        for c in range(3)
    ]
    out = bytearray(len(plane) * 3)
    raw = bytes(plane)
    out[0::3] = raw.translate(tables[0])
    out[1::3] = raw.translate(tables[1])
    out[2::3] = raw.translate(tables[2])
    return bytes(out)

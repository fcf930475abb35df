"""Pure-stdlib PNG and BMP codecs.

The container has no PIL/OpenCV, but PNG needs only ``zlib`` +
``binascii.crc32`` (both stdlib) and uncompressed BMP is plain struct
parsing — same approach as the pure-python FlateDecode PDF extractor
(`extraction/pdf.py`).  Formats are implemented from their public
specs: PNG per the W3C PNG spec / RFC 2083 (chunk layout, scanline
filters 0-4 incl. Paeth), BMP per the BITMAPFILEHEADER /
BITMAPINFOHEADER layout (24-bit BI_RGB, bottom-up rows, 4-byte row
padding).

Scope (honest boundary, documented in `decode_image`): PNG 8-bit
non-interlaced greyscale/RGB/grey+alpha/RGBA and BMP 24-bit
uncompressed decode REALLY — pixels come out of the payload bytes.
GIF dispatches to `gifcodec.py`; other codecs (JPEG needs a DCT stack)
raise.  Per-pixel work is Python loops over small images.  No package
code calls this module: SCRC ingests HTML/PDF rulings, media ingest is
out of scope, and the codec is slated for removal.
"""

from __future__ import annotations

import binascii
import struct
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# PNG color type -> samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class UnsupportedImageError(ValueError):
    """Payload is not a decodable PNG/BMP variant."""


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> tuple[int, int, int, bytearray]:
    """Decode a non-interlaced 8-bit PNG.  Returns
    ``(width, height, channels, pixels)`` with ``pixels`` a flat
    row-major bytearray of length ``width * height * channels``."""
    if data[:8] != _PNG_SIG:
        raise UnsupportedImageError("not a PNG (bad signature)")
    pos = 8
    width = height = None
    channels = 0
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if depth != 8:
                raise UnsupportedImageError(f"bit depth {depth} unsupported")
            if interlace:
                raise UnsupportedImageError("interlaced PNG unsupported")
            if color not in _PNG_CHANNELS:
                raise UnsupportedImageError(f"color type {color} unsupported")
            channels = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if width is None:
        raise UnsupportedImageError("missing IHDR")
    stride = width * channels
    expected = (stride + 1) * height
    # Corrupt-dims / zlib-bomb OOM guard (r05 review, same contract as
    # the JPEG SOF guard): zlib inflates at most ~1032:1, so an IHDR
    # claiming more raw output than the IDAT bytes could possibly
    # yield is malformed — reject BEFORE any allocation, and bound the
    # inflate itself so a crafted stream can't expand past `expected`.
    if expected > len(idat) * 1032 + 4096:
        raise UnsupportedImageError("IHDR dims exceed IDAT capacity")
    raw = zlib.decompressobj().decompress(bytes(idat), expected + 1)
    if len(raw) != expected:
        raise UnsupportedImageError("IDAT length mismatch")
    out = bytearray(stride * height)
    prior = bytearray(stride)
    for y in range(height):
        base = y * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prior[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((a + prior[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                c = prior[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(a, prior[i], c)) & 0xFF
        elif ftype != 0:
            raise UnsupportedImageError(f"filter type {ftype} invalid")
        out[y * stride : (y + 1) * stride] = line
        prior = line
    return width, height, channels, out


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    crc = binascii.crc32(ctype + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)


def encode_png(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    filter_for_row=None,
) -> bytes:
    """Encode 8-bit non-interlaced PNG from a flat row-major pixel
    buffer.  ``filter_for_row(y) -> 0..4`` selects the scanline filter
    (default 0/None) — the fixture generator varies it so round-trip
    tests exercise every unfilter branch, not just the trivial one."""
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    raw = bytearray()
    prior = bytes(stride)
    for y in range(height):
        line = pixels[y * stride : (y + 1) * stride]
        f = filter_for_row(y) if filter_for_row else 0
        filt = bytearray(stride)
        if f == 0:
            filt[:] = line
        elif f == 1:  # Sub
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                filt[i] = (line[i] - a) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                filt[i] = (line[i] - prior[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                filt[i] = (line[i] - ((a + prior[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                c = prior[i - channels] if i >= channels else 0
                filt[i] = (line[i] - _paeth(a, prior[i], c)) & 0xFF
        else:
            raise ValueError(f"filter {f}")
        raw.append(f)
        raw += filt
        prior = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# BMP (24-bit BI_RGB)
# ---------------------------------------------------------------------------

def decode_bmp(data: bytes) -> tuple[int, int, int, bytearray]:
    """Decode 24-bit uncompressed BMP (bottom-up or top-down).  Returns
    ``(width, height, 3, pixels)`` with pixels row-major top-down RGB."""
    if data[:2] != b"BM":
        raise UnsupportedImageError("not a BMP (bad magic)")
    (offset,) = struct.unpack("<I", data[10:14])
    width, height = struct.unpack("<ii", data[18:26])
    (bpp,) = struct.unpack("<H", data[28:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if bpp != 24 or compression != 0:
        raise UnsupportedImageError(f"BMP bpp={bpp} compression={compression}")
    if width < 0:
        raise UnsupportedImageError("negative BMP width")
    top_down = height < 0
    height = abs(height)
    row_bytes = width * 3
    padded = (row_bytes + 3) & ~3
    # Corrupt-dims OOM guard (r05 review): the claimed pixel plane must
    # actually be present in the payload BEFORE the output plane is
    # allocated, bounding the allocation by len(data).
    if height and offset + (height - 1) * padded + row_bytes > len(data):
        raise UnsupportedImageError("BMP dims exceed payload")
    out = bytearray(row_bytes * height)
    for y in range(height):
        src_row = y if top_down else height - 1 - y
        base = offset + src_row * padded
        row = data[base : base + row_bytes]
        # BGR -> RGB
        for x in range(width):
            out[(y * width + x) * 3 + 0] = row[x * 3 + 2]
            out[(y * width + x) * 3 + 1] = row[x * 3 + 1]
            out[(y * width + x) * 3 + 2] = row[x * 3 + 0]
    return width, height, 3, out


def encode_bmp24(width: int, height: int, pixels: bytes) -> bytes:
    """Encode 24-bit BI_RGB BMP (bottom-up) from row-major top-down
    RGB pixels."""
    row_bytes = width * 3
    padded = (row_bytes + 3) & ~3
    image_size = padded * height
    body = bytearray(image_size)
    for y in range(height):
        dst = (height - 1 - y) * padded
        for x in range(width):
            body[dst + x * 3 + 0] = pixels[(y * width + x) * 3 + 2]
            body[dst + x * 3 + 1] = pixels[(y * width + x) * 3 + 1]
            body[dst + x * 3 + 2] = pixels[(y * width + x) * 3 + 0]
    file_header = b"BM" + struct.pack("<IHHI", 14 + 40 + image_size, 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, image_size, 2835, 2835, 0, 0)
    return file_header + info + bytes(body)


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

def decode_image(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Sniff + decode.  PNG, 24-bit BMP and the first frame of a GIF
    decode for real; anything else (JPEG, video, audio) raises
    ``UnsupportedImageError``.

    THIS dispatch is the error-contract point: malformed payloads of
    any sniffed format (truncated IDAT -> zlib.error, short headers ->
    struct/IndexError, ...) are translated to ``UnsupportedImageError``
    here, so a caller's single except clause covers all codecs."""
    try:
        if payload[:8] == _PNG_SIG:
            return decode_png(payload)
        if payload[:2] == b"BM":
            return decode_bmp(payload)
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            from swisscourtrulingcorpus_spark.extraction.gifcodec import (
                decode_gif,
                frame_rgb,
            )

            w, h, pal, frames = decode_gif(payload)
            # static-image view of a GIF: the FIRST frame as RGB
            return w, h, 3, bytearray(frame_rgb(pal, frames[0]))
    except UnsupportedImageError:
        raise
    except (zlib.error, struct.error, ValueError, IndexError, KeyError) as e:
        raise UnsupportedImageError(
            f"malformed image payload ({type(e).__name__}: {e})"
        ) from e
    raise UnsupportedImageError("unknown or unsupported image format")

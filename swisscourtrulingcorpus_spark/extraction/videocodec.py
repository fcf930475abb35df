"""Pure-stdlib AVI (RIFF) video codec.

Same recipe as `extraction/imagecodec.py` / `audiocodec.py`: AVI is a
RIFF container — LIST `hdrl` (`avih` main header + `strl` stream
headers) followed by LIST `movi` holding per-frame chunks — and an
uncompressed `DIB ` video stream stores each frame as a BMP-style
bottom-up BGR plane with 4-byte row padding.  All of that is plain
struct parsing, implemented from the public RIFF/AVI layout.  The
reference pipeline has no video stage and no package code calls this
module; media ingest is out of scope and the codec is slated for
removal.

Scope (honest boundary): uncompressed 24-bit DIB frames (`00db`
chunks) decode REALLY.  Compressed handlers (MJPG, H.264 etc.) raise
``UnsupportedVideoError``.
"""

from __future__ import annotations

import struct


class UnsupportedVideoError(ValueError):
    """Payload is not a decodable uncompressed-DIB AVI."""


def _walk_chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, body) over a RIFF chunk sequence, descending into
    LIST chunks.  Iterative (explicit stack) — a crafted payload with
    thousands of nested LIST headers must exhaust the malformed-payload
    contract, not Python's recursion limit (r05 review)."""
    stack = [(pos, end)]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            cid = data[pos : pos + 4]
            (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body_start = pos + 8
            body_end = min(body_start + length, end)
            pos = body_start + length + (length & 1)  # RIFF pads to even
            if cid == b"LIST" and length >= 4:
                stack.append((pos, end))  # resume parent after the LIST
                pos, end = body_start + 4, body_end
            else:
                yield cid, data[body_start:body_end]


def decode_avi(data: bytes) -> tuple[int, int, int, list[bytearray]]:
    """Decode an uncompressed-DIB AVI payload.  Returns
    ``(width, height, us_per_frame, frames)`` with each frame a flat
    row-major top-down RGB bytearray of length ``width * height * 3``."""
    try:
        if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
            raise UnsupportedVideoError("not a RIFF/AVI payload")
        width = height = us_per_frame = None
        cur_stream = None  # fccType of the strl being walked
        raw_frames: list[bytes] = []
        for cid, body in _walk_chunks(data, 12, len(data)):
            if cid == b"avih":
                (us_per_frame,) = struct.unpack("<I", body[0:4])
                width, height = struct.unpack("<II", body[32:40])
            elif cid == b"strh":
                cur_stream, handler = body[0:4], body[4:8]
                if cur_stream == b"vids" and handler not in (b"DIB ", b"\x00" * 4):
                    raise UnsupportedVideoError(
                        f"compressed video handler {handler!r} unsupported"
                    )
            elif cid == b"strf" and cur_stream == b"vids":
                # only the VIDEO stream's format chunk is a
                # BITMAPINFOHEADER — an accompanying 'auds' strf is a
                # WAVEFORMATEX and must not be misparsed (r05 review)
                (bpp,) = struct.unpack("<H", body[14:16])
                (compression,) = struct.unpack("<I", body[16:20])
                if bpp != 24 or compression != 0:
                    raise UnsupportedVideoError(
                        f"strf bpp={bpp} compression={compression} unsupported"
                    )
            elif cid[2:4] == b"dc":
                raise UnsupportedVideoError("compressed frame chunks unsupported")
            elif cid[2:4] == b"db":
                raw_frames.append(body)
        if width is None or us_per_frame is None:
            raise UnsupportedVideoError("missing avih header")
        row_bytes = width * 3
        padded = (row_bytes + 3) & ~3
        frames: list[bytearray] = []
        for raw in raw_frames:
            # corrupt-dims OOM guard (same contract as decode_bmp): the
            # claimed plane must be present BEFORE allocation
            if height and (height - 1) * padded + row_bytes > len(raw):
                raise UnsupportedVideoError("frame chunk smaller than dims")
            out = bytearray(row_bytes * height)
            for y in range(height):
                base = (height - 1 - y) * padded  # bottom-up rows
                row = raw[base : base + row_bytes]
                for x in range(width):
                    out[(y * width + x) * 3 + 0] = row[x * 3 + 2]
                    out[(y * width + x) * 3 + 1] = row[x * 3 + 1]
                    out[(y * width + x) * 3 + 2] = row[x * 3 + 0]
            frames.append(out)
        return width, height, us_per_frame, frames
    except UnsupportedVideoError:
        raise
    except (struct.error, ValueError, IndexError) as e:
        raise UnsupportedVideoError(
            f"malformed AVI payload ({type(e).__name__}: {e})"
        ) from e


def _chunk(cid: bytes, body: bytes) -> bytes:
    return cid + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))


def _list(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def encode_avi(
    width: int, height: int, frames: list[bytes], us_per_frame: int = 40000
) -> bytes:
    """Encode row-major top-down RGB frames as an uncompressed-DIB AVI
    (RIFF → hdrl(avih, strl(strh 'vids'/'DIB ', strf BITMAPINFOHEADER))
    → movi('00db' bottom-up padded BGR planes))."""
    row_bytes = width * 3
    padded = (row_bytes + 3) & ~3
    frame_size = padded * height
    avih = struct.pack(
        "<IIIIIIIIII4I",
        us_per_frame, frame_size * 25, 0, 0x10, len(frames), 0, 1, frame_size,
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB " + struct.pack(
            "<IHHIIIIIIiI", 0, 0, 0, 0, us_per_frame, 1000000, 0,
            len(frames), frame_size, -1, 0,
        ) + struct.pack("<4h", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_size, 0, 0, 0, 0
    )
    movi_body = b""
    for px in frames:
        plane = bytearray(frame_size)
        for y in range(height):
            dst = (height - 1 - y) * padded
            for x in range(width):
                plane[dst + x * 3 + 0] = px[(y * width + x) * 3 + 2]
                plane[dst + x * 3 + 1] = px[(y * width + x) * 3 + 1]
                plane[dst + x * 3 + 2] = px[(y * width + x) * 3 + 0]
        movi_body += _chunk(b"00db", bytes(plane))
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(b"movi", movi_body)
    return (
        b"RIFF" + struct.pack("<I", 4 + len(hdrl) + len(movi)) + b"AVI " + hdrl + movi
    )

"""Pure-stdlib WAV (RIFF PCM) codec.

Same recipe as `extraction/imagecodec.py`: the container has no audio
libraries, but canonical WAV is plain RIFF chunk parsing + 16-bit
little-endian PCM — implemented from the public RIFF/WAVE layout
(`fmt ` chunk: audio format / channels / sample rate / block align;
`data` chunk: interleaved frames).  The reference pipeline has no audio
stage and no package code calls this module; media ingest is out of
scope and the codec is slated for removal.

Scope (honest boundary): 16-bit integer PCM decodes REALLY, and so do
the classic COMPRESSED telephony formats — G.711 mu-law / A-law
(format tags 7/6, pure-formula expansions) and mono IMA ADPCM (tag
0x11, block-based adaptive prediction).  Perceptual codecs
(MP3/AAC/Vorbis) and float/24-bit PCM raise ``UnsupportedAudioError``.
"""

from __future__ import annotations

import struct
import sys
from array import array


class UnsupportedAudioError(ValueError):
    """Payload is not a decodable 16-bit PCM WAV."""


def decode_wav(data: bytes) -> tuple[int, int, int, "array"]:
    """Decode a 16-bit PCM RIFF/WAVE payload.  Returns
    ``(sample_rate, channels, n_frames, samples)`` with ``samples`` a
    flat interleaved ``array('h')`` of signed 16-bit values (length
    ``n_frames * channels``)."""
    try:
        if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
            raise UnsupportedAudioError("not a RIFF/WAVE payload")
        pos = 12
        sample_rate = channels = bits = None
        fmt_tag = None
        block_align = 0
        pcm: bytes | None = None
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body = data[pos + 8 : pos + 8 + length]
            pos += 8 + length + (length & 1)  # RIFF chunks pad to even
            if cid == b"fmt ":
                fmt_tag, channels, sample_rate = struct.unpack("<HHI", body[:8])
                (block_align,) = struct.unpack("<H", body[12:14])
                (bits,) = struct.unpack("<H", body[14:16])
                if fmt_tag not in (1, 6, 7, 0x11):
                    raise UnsupportedAudioError(
                        f"compressed/float WAV (format tag {fmt_tag}) unsupported"
                    )
                if fmt_tag == 1 and bits != 16:
                    raise UnsupportedAudioError(f"{bits}-bit PCM unsupported")
                if fmt_tag in (6, 7) and bits != 8:
                    raise UnsupportedAudioError(
                        f"{bits}-bit G.711 unsupported (must be 8)"
                    )
                if fmt_tag == 0x11 and channels != 1:
                    raise UnsupportedAudioError("only mono IMA ADPCM supported")
                if channels == 0 or sample_rate == 0:
                    raise UnsupportedAudioError("zero channels or sample rate")
            elif cid == b"data":
                # header length is bounded by the bytes actually present
                # (truncated payloads must not claim more samples)
                if length > len(body):
                    raise UnsupportedAudioError("data chunk exceeds payload")
                pcm = body
        if sample_rate is None or pcm is None:
            raise UnsupportedAudioError("missing fmt or data chunk")
        if fmt_tag in (6, 7):
            expand = mulaw_expand if fmt_tag == 7 else alaw_expand
            n_frames = len(pcm) // channels
            samples = array("h")
            samples.extend(
                expand(b) for b in pcm[: n_frames * channels]
            )
            return sample_rate, channels, n_frames, samples
        if fmt_tag == 0x11:
            if block_align < 5:
                raise UnsupportedAudioError("ADPCM block align too small")
            decoded: list[int] = []
            off = 0
            while off < len(pcm):
                # the FINAL block may be short (a tail chunk smaller
                # than the nominal block); anything under the 4-byte
                # header + 1 data byte is padding, not a block
                block = pcm[off : off + block_align]
                off += block_align
                if len(block) < 5:
                    break
                decoded += adpcm_decode_block(block)
            samples = array("h", decoded)
            return sample_rate, 1, len(samples), samples
        n_values = len(pcm) // 2
        n_frames = n_values // channels
        # array('h'), not a boxed-int list: the executor decode path
        # only needs sum/min/max and a 100 MB payload must not balloon
        # to ~1.4 GB of PyObjects (r05 review); ~2 bytes/sample instead
        samples = array("h")
        samples.frombytes(pcm[: n_frames * channels * 2])
        if sys.byteorder == "big":
            samples.byteswap()  # WAV PCM is little-endian
        return sample_rate, channels, n_frames, samples
    except UnsupportedAudioError:
        raise
    except (struct.error, ValueError, IndexError) as e:
        raise UnsupportedAudioError(
            f"malformed WAV payload ({type(e).__name__}: {e})"
        ) from e


def encode_wav(
    sample_rate: int, channels: int, samples: list[int]
) -> bytes:
    """Encode interleaved signed 16-bit samples as canonical RIFF/WAVE
    (fmt + data, PCM format tag 1)."""
    pcm = struct.pack(f"<{len(samples)}h", *samples)
    block_align = channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align, block_align, 16
    )
    chunks = b"WAVE"
    for cid, body in ((b"fmt ", fmt), (b"data", pcm)):
        chunks += cid + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


# --- G.711 companding (format tags 7 = mu-law, 6 = A-law) -----------------
#
# Pure formula expansions from the public G.711 spec — integer-exact,
# so every decoded sample follows from the encoded byte alone.


def mulaw_expand(b: int) -> int:
    """One mu-law byte -> signed 16-bit sample."""
    u = ~b & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 7
    mant = u & 0x0F
    v = (((mant << 3) + 0x84) << exp) - 0x84
    return -v if sign else v


def mulaw_compress(v: int) -> int:
    """Signed 16-bit sample -> one mu-law byte (clip at 32635)."""
    sign = 0x80 if v < 0 else 0
    if v < 0:
        v = -v
    v = min(v, 32635) + 0x84
    exp = v.bit_length() - 8  # v >= 0x84 so bit_length >= 8
    mant = (v >> (exp + 3)) & 0x0F
    return ~(sign | (exp << 4) | mant) & 0xFF


def alaw_expand(b: int) -> int:
    """One A-law byte -> signed 16-bit sample (ITU convention: the
    sign bit is SET for positive values)."""
    a = b ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 7
    mant = a & 0x0F
    if exp:
        v = ((mant << 4) + 0x108) << (exp - 1)
    else:
        v = (mant << 4) + 8
    return v if sign else -v


def alaw_compress(v: int) -> int:
    """Signed 16-bit sample -> one A-law byte (clip at 32767)."""
    sign = 0x80 if v >= 0 else 0
    if v < 0:
        v = -v - 1 if v == -32768 else -v
    v = min(v, 32767)
    if v < 256:
        out = v >> 4
    else:
        exp = v.bit_length() - 8
        mant = (v >> (exp + 3)) & 0x0F
        out = (exp << 4) | mant
    return (sign | out) ^ 0x55


# --- IMA ADPCM (format tag 0x11, mono) -------------------------------------

_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]


def _ima_step(pred: int, idx: int, nibble: int) -> tuple[int, int]:
    step = _IMA_STEPS[idx]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_INDEX[nibble & 7]))
    return pred, idx


def adpcm_decode_block(block: bytes) -> list[int]:
    """One mono IMA ADPCM block: 4-byte header (predictor int16, step
    index, reserved) + packed nibbles (low first)."""
    (pred,) = struct.unpack("<h", block[0:2])
    idx = block[2]
    if idx > 88:
        raise UnsupportedAudioError(f"ADPCM step index {idx} > 88")
    out = [pred]
    for byte in block[4:]:
        for nibble in (byte & 0x0F, byte >> 4):
            pred, idx = _ima_step(pred, idx, nibble)
            out.append(pred)
    return out


def adpcm_encode_mono(samples: list[int], block_samples: int = 505) -> tuple[bytes, int]:
    """Greedy IMA ADPCM encoder (mono): returns (data, block_align)
    with ``block_samples`` samples per block (first stored verbatim in
    the header, rest as nibbles; (block_samples-1) must be even)."""
    if (block_samples - 1) % 2:
        raise ValueError("block_samples-1 must be even")
    block_align = 4 + (block_samples - 1) // 2
    data = bytearray()
    idx = 0
    i = 0
    while i < len(samples):
        chunk = samples[i : i + block_samples]
        i += block_samples
        pred = chunk[0]
        data += struct.pack("<hBB", pred, idx, 0)
        nibbles = []
        for s in chunk[1:]:
            step = _IMA_STEPS[idx]
            diff = s - pred
            nibble = 8 if diff < 0 else 0
            if diff < 0:
                diff = -diff
            if diff >= step:
                nibble |= 4
                diff -= step
            if diff >= step >> 1:
                nibble |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nibble |= 1
            pred, idx = _ima_step(pred, idx, nibble)
            nibbles.append(nibble)
        if len(nibbles) % 2:
            nibbles.append(0)  # short tail block pads a zero nibble
        for lo, hi in zip(nibbles[::2], nibbles[1::2]):
            data.append(lo | (hi << 4))
    return bytes(data), block_align


def encode_wav_g711(
    sample_rate: int, channels: int, encoded: bytes, law: str = "mulaw"
) -> bytes:
    """Wrap already-companded G.711 bytes in a RIFF/WAVE container
    (format tag 7 for mu-law, 6 for A-law, 8 bits per sample)."""
    tag = 7 if law == "mulaw" else 6
    fmt = struct.pack(
        "<HHIIHH", tag, channels, sample_rate, sample_rate * channels,
        channels, 8,
    )
    chunks = b"WAVE"
    for cid, body in ((b"fmt ", fmt), (b"data", encoded)):
        chunks += cid + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def encode_wav_adpcm(
    sample_rate: int, samples: list[int], block_samples: int = 505
) -> bytes:
    """Encode mono 16-bit samples as an IMA ADPCM RIFF/WAVE (format
    tag 0x11)."""
    data, block_align = adpcm_encode_mono(samples, block_samples)
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11, 1, sample_rate,
        sample_rate * block_align // block_samples,
        block_align, 4, 2, block_samples,
    )
    chunks = b"WAVE"
    for cid, body in ((b"fmt ", fmt), (b"data", data)):
        chunks += cid + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks

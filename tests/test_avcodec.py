"""WAV / AVI codec tests: round trips through real bytes and malformed-
payload guards (incl. the corrupt-dims OOM class)."""

import struct

import pytest

from swisscourtrulingcorpus_spark.extraction.audiocodec import (
    UnsupportedAudioError,
    decode_wav,
    encode_wav,
)
from swisscourtrulingcorpus_spark.extraction.videocodec import (
    UnsupportedVideoError,
    decode_avi,
    encode_avi,
)


def test_wav_round_trip_stereo():
    samples = [((31 * i) % 65536) - 32768 for i in range(60)]
    data = encode_wav(16000, 2, samples)
    sr, ch, nf, out = decode_wav(data)
    assert (sr, ch, nf) == (16000, 2, 30)
    assert list(out) == samples
    assert struct.unpack("<I", data[4:8])[0] == len(data) - 8  # exact RIFF size


def test_wav_odd_length_chunk_padding():
    # a 1-sample data chunk is odd-length -> RIFF pads to even; the
    # decoder must honor the pad when walking chunks
    sr, ch, nf, out = decode_wav(encode_wav(8000, 1, [-7]))
    assert (sr, ch, nf, list(out)) == (8000, 1, 1, [-7])


def test_wav_guards():
    good = encode_wav(8000, 1, [1, 2, 3])
    float_pcm = bytearray(good)
    struct.pack_into("<H", float_pcm, good.find(b"fmt ") + 8, 3)  # IEEE float tag
    bad = [
        b"OggS" + bytes(40),                  # not RIFF
        b"RIFF\x08\x00\x00\x00AVI " + bytes(8),  # RIFF but not WAVE
        good[:20],                            # truncated before data
        bytes(float_pcm),                     # float PCM -> unsupported
        good.replace(b"fmt ", b"fmtX"),       # missing fmt chunk
    ]
    for payload in bad:
        with pytest.raises(UnsupportedAudioError):
            decode_wav(payload)


def _avi_frames(d, n, w, h):
    return [
        bytes(
            (d + 3 * f + 7 * x + 13 * y + 29 * c) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        for f in range(n)
    ]


def test_avi_round_trip():
    frames = _avi_frames(9, 3, 5, 3)
    avi = encode_avi(5, 3, frames, us_per_frame=40000)
    w, h, us, out = decode_avi(avi)
    assert (w, h, us, len(out)) == (5, 3, 40000, 3)
    assert [bytes(f) for f in out] == frames
    assert struct.unpack("<I", avi[4:8])[0] == len(avi) - 8  # exact RIFF size


def test_avi_guards():
    avi = encode_avi(2, 2, _avi_frames(1, 1, 2, 2))
    bomb = bytearray(avi)
    struct.pack_into("<II", bomb, avi.find(b"avih") + 8 + 32, 50000, 50000)
    bad = [
        avi[:30],                            # truncated header
        bytes(bomb),                         # GB-scale claimed dims, tiny frame
        avi.replace(b"00db", b"00dc"),       # compressed frame chunk
        avi.replace(b"DIB ", b"MJPG"),       # compressed handler
        b"RIFF\x04\x00\x00\x00WAVE",         # wrong RIFF type
    ]
    for payload in bad:
        with pytest.raises(UnsupportedVideoError):
            decode_avi(payload)


def test_avi_deep_nested_lists_stay_in_contract():
    """~1000 nested LIST headers must raise UnsupportedVideoError (or
    decode to nothing useful), never RecursionError — the iterative
    walk keeps the malformed-payload contract (r05 review)."""
    depth = 1200
    inner = b""
    for _ in range(depth):
        inner = b"LIST" + struct.pack("<I", len(inner) + 4) + b"fake" + inner
    payload = b"RIFF" + struct.pack("<I", len(inner) + 4) + b"AVI " + inner
    with pytest.raises(UnsupportedVideoError):
        decode_avi(payload)


def test_avi_with_audio_track_decodes_video():
    """An 'auds' strl whose strf is a WAVEFORMATEX (not a
    BITMAPINFOHEADER) must not be misparsed as video format — the DIB
    frames still decode (r05 review)."""
    from swisscourtrulingcorpus_spark.extraction.videocodec import _chunk, _list

    frames = _avi_frames(4, 2, 2, 2)
    avi = encode_avi(2, 2, frames)
    # splice an audio strl (strh 'auds' + 16-byte WAVEFORMATEX strf)
    # into hdrl, right before the movi LIST
    auds = _list(
        b"strl",
        _chunk(b"strh", b"auds" + bytes(52))
        + _chunk(b"strf", struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)),
    )
    i = avi.find(b"movi") - 8  # start of the movi LIST header
    with_audio = avi[:i] + auds + avi[i:]
    w, h, us, out = decode_avi(with_audio)
    assert (w, h, len(out)) == (2, 2, 2)
    assert [bytes(f) for f in out] == frames


def test_wav_codec_property_random_audio():
    """Property: encode->decode is the identity for random sample
    buffers, rates and channel counts."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        sr=st.sampled_from([8000, 16000, 22050, 44100]),
        ch=st.integers(1, 3),
        frames=st.integers(0, 40),
        data=st.data(),
    )
    def check(sr, ch, frames, data):
        samples = data.draw(
            st.lists(
                st.integers(-32768, 32767),
                min_size=frames * ch,
                max_size=frames * ch,
            )
        )
        got_sr, got_ch, got_nf, out = decode_wav(encode_wav(sr, ch, samples))
        assert (got_sr, got_ch, got_nf) == (sr, ch, frames)
        assert list(out) == samples

    check()


def test_avi_codec_property_random_videos():
    """Property: encode->decode is the identity for random frame
    stacks, dims and frame rates."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 7),
        h=st.integers(1, 5),
        n=st.integers(0, 4),
        us=st.sampled_from([33333, 40000, 100000]),
        data=st.data(),
    )
    def check(w, h, n, us, data):
        frames = [
            bytes(
                data.draw(
                    st.lists(
                        st.integers(0, 255),
                        min_size=w * h * 3,
                        max_size=w * h * 3,
                    )
                )
            )
            for _ in range(n)
        ]
        got_w, got_h, got_us, out = decode_avi(encode_avi(w, h, frames, us))
        assert (got_w, got_h, got_us, len(out)) == (w, h, us, n)
        assert [bytes(f) for f in out] == frames

    check()


def test_g711_expansion_tables_and_idempotence():
    """Both companding laws: expand(compress(expand(b))) == expand(b)
    for every byte (codebook idempotence), quantization error bounded
    by the widest segment, and the ITU sign conventions (mu-law sign
    bit = negative in the complemented domain; A-law sign bit set =
    POSITIVE)."""
    from swisscourtrulingcorpus_spark.extraction.audiocodec import (
        alaw_compress,
        alaw_expand,
        mulaw_compress,
        mulaw_expand,
    )

    for b in range(256):
        assert mulaw_expand(mulaw_compress(mulaw_expand(b))) == mulaw_expand(b)
        assert alaw_expand(alaw_compress(alaw_expand(b))) == alaw_expand(b)
    assert max(
        abs(mulaw_expand(mulaw_compress(v)) - v)
        for v in range(-32768, 32768, 17)
    ) < 1024
    assert max(
        abs(alaw_expand(alaw_compress(v)) - v)
        for v in range(-32768, 32768, 17)
    ) < 1100
    assert mulaw_expand(0xFF) == 0 and mulaw_expand(0x7F) == -0  # zeros
    assert alaw_expand(0xD5) == 8 and alaw_expand(0x55) == -8  # +-min


def test_adpcm_wav_roundtrip_bounded_error():
    """IMA ADPCM through the WAV container: mono block decode
    (including the short tail block), reconstruction error bounded
    after the cold-start adaptation transient, and the stereo /
    bad-step-index contracts."""
    import math

    import pytest

    from swisscourtrulingcorpus_spark.extraction.audiocodec import (
        UnsupportedAudioError,
        adpcm_decode_block,
        decode_wav,
        encode_wav_adpcm,
    )

    sig = [int(5000 * math.sin(i / 7.0)) for i in range(1200)]
    sr, ch, n, samples = decode_wav(encode_wav_adpcm(16000, sig))
    assert (sr, ch) == (16000, 1) and n >= len(sig)
    err = max(
        abs(a - b) for a, b in zip(sig[200:], list(samples)[200 : len(sig)])
    )
    assert err < 400, err

    with pytest.raises(UnsupportedAudioError):
        adpcm_decode_block(b"\x00\x00\x89\x00\x11")  # step index 137 > 88

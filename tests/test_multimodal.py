"""Unit tests for the vendored binary codecs: byte-exact PNG/BMP, WAV and
AVI roundtrips and spec-level rejects."""

import numpy as np
import pytest


class TestImageCodecs:
    """Vendored PNG/BMP codecs: byte-exact roundtrips incl. all five PNG
    scanline filters, and spec-level rejects."""

    def _img(self, h=13, w=17, c=3, seed=3):
        rng = np.random.Generator(np.random.PCG64(seed))
        return rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)

    @pytest.mark.parametrize("channels", [1, 2, 3, 4])
    def test_png_roundtrip_channels(self, channels):
        from deduplication_challenge_spark.functions.imagecodec import (
            decode_png, encode_png, probe_png,
        )

        img = self._img(c=channels)
        data = encode_png(img)
        assert probe_png(data) == (17, 13, channels)
        assert np.array_equal(decode_png(data), img)

    @pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
    def test_png_roundtrip_all_filters(self, ftype):
        from deduplication_challenge_spark.functions.imagecodec import (
            decode_png, encode_png,
        )

        img = self._img(h=9, w=11, c=3, seed=ftype + 10)
        assert np.array_equal(decode_png(encode_png(img, filter_type=ftype)), img)

    def test_png_gradient_known_pixels(self):
        from deduplication_challenge_spark.functions.imagecodec import (
            decode_png, encode_png,
        )

        grad = np.zeros((4, 256, 1), dtype=np.uint8)
        grad[:, :, 0] = np.arange(256, dtype=np.uint8)
        out = decode_png(encode_png(grad, filter_type=1))
        assert out[2, 200, 0] == 200

    def test_bmp_roundtrip_with_padding(self):
        from deduplication_challenge_spark.functions.imagecodec import (
            decode_bmp, encode_bmp, probe_bmp,
        )

        img = self._img(h=5, w=3, c=3)  # 3*3=9 bytes/row -> padded to 12
        data = encode_bmp(img)
        assert probe_bmp(data) == (3, 5, 3)
        assert np.array_equal(decode_bmp(data), img)

    def test_rejects(self):
        from deduplication_challenge_spark.functions.imagecodec import (
            decode_image, probe_image,
        )

        assert probe_image(b"not an image") is None
        assert decode_image(b"not an image") is None
        assert decode_image(b"\x89PNG\r\n\x1a\nbroken") is None  # truncated header
        assert probe_image(None) is None


    def test_png_zlib_bomb_rejected(self):
        """A tiny crafted PNG whose IDAT expands to ~100 MB is rejected by the
        bounded decompressor, not materialized."""
        import struct
        import zlib

        from deduplication_challenge_spark.functions.imagecodec import decode_png

        def chunk(ctype, body):
            return (struct.pack(">I", len(body)) + ctype + body
                    + struct.pack(">I", zlib.crc32(ctype + body)))

        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)  # says 4x4 RGB
        bomb = zlib.compress(b"\x00" * 100_000_000)  # ~100 KB on the wire
        png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
        with pytest.raises(ValueError, match="scanline size mismatch"):
            decode_png(png)


class TestRealAudioDecode:
    """Vendored WAV codec: sample-exact roundtrips and spec-level rejects."""

    def _tone(self, n=4000, channels=1, freq=440.0, rate=16000):
        t = np.arange(n) / rate
        wave = (np.sin(2 * np.pi * freq * t) * 20000).astype(np.int16)
        return np.tile(wave[:, None], (1, channels))

    @pytest.mark.parametrize("channels", [1, 2])
    def test_wav_roundtrip_int16(self, channels):
        from deduplication_challenge_spark.functions.audiocodec import (
            decode_wav, encode_wav, probe_wav,
        )

        samples = self._tone(channels=channels)
        data = encode_wav(samples, 16000)
        assert probe_wav(data) == (16000, channels, 16, 4000)
        got, rate = decode_wav(data)
        assert rate == 16000
        assert np.array_equal(got, samples)

    def test_wav_roundtrip_uint8(self):
        from deduplication_challenge_spark.functions.audiocodec import (
            decode_wav, encode_wav, probe_wav,
        )

        rng = np.random.Generator(np.random.PCG64(9))
        samples = rng.integers(0, 256, size=(777, 1), dtype=np.uint8)
        data = encode_wav(samples, 8000)
        assert probe_wav(data) == (8000, 1, 8, 777)
        assert np.array_equal(decode_wav(data)[0], samples)

    def test_rejects(self):
        from deduplication_challenge_spark.functions.audiocodec import probe_wav

        assert probe_wav(b"not a wav") is None
        assert probe_wav(None) is None
        assert probe_wav(b"RIFF\x00\x00\x00\x00AVI ") is None  # wrong form type
        # IEEE float (tag 3) rejected
        import struct
        fmt = struct.pack("<HHIIHH", 3, 1, 16000, 64000, 4, 32)
        bad = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
               + b"fmt " + struct.pack("<I", 16) + fmt
               + b"data" + struct.pack("<I", 0))
        assert probe_wav(bad) is None


class TestRealVideoDecode:
    """Vendored AVI codec: frame-exact roundtrips and spec-level rejects."""

    def _clip(self, n_frames=4, h=6, w=5, seed=11):
        rng = np.random.Generator(np.random.PCG64(seed))
        return rng.integers(0, 256, size=(n_frames, h, w, 3), dtype=np.uint8)

    @pytest.mark.parametrize("w", [4, 5])  # 5 exercises 4-byte row padding
    def test_avi_roundtrip(self, w):
        from deduplication_challenge_spark.functions.videocodec import (
            decode_avi, encode_avi, probe_avi,
        )

        frames = self._clip(n_frames=3, h=4, w=w)
        data = encode_avi(frames, us_per_frame=33333)
        assert probe_avi(data) == (w, 4, 3, 33333)
        got, us = decode_avi(data)
        assert us == 33333
        assert np.array_equal(got, frames)

    def test_rejects(self):
        import struct

        from deduplication_challenge_spark.functions.videocodec import (
            decode_avi, encode_avi, probe_avi,
        )

        assert probe_avi(b"not an avi") is None
        assert probe_avi(None) is None
        assert probe_avi(b"RIFF\x00\x00\x00\x00WAVE") is None  # wrong form type
        # compressed ('00dc') frames are rejected at decode time
        data = bytearray(encode_avi(self._clip(n_frames=1, h=2, w=2)))
        idx = bytes(data).index(b"00db")
        data[idx : idx + 4] = b"00dc"
        assert probe_avi(bytes(data)) is not None  # header still parses
        with pytest.raises(ValueError):
            decode_avi(bytes(data))
        # header/movi frame-count mismatch is loud, not silent
        good = encode_avi(self._clip(n_frames=2, h=2, w=2))
        hacked = bytearray(good)
        aidx = bytes(hacked).index(b"avih") + 8 + 16  # total_frames field
        struct.pack_into("<I", hacked, aidx, 5)
        with pytest.raises(ValueError):
            decode_avi(bytes(hacked))


class TestHardeningRegressions:
    def test_wav_absurd_sample_rate_rejected(self):
        """rate >= 2^31 would wrap negative in the int32 sample_rate column
        (or abort the batch under numpy 2.x) — probe rejects it."""
        import struct

        from deduplication_challenge_spark.functions.audiocodec import probe_wav

        fmt = struct.pack("<HHIIHH", 1, 1, 0xFFFFFFFF, 0, 1, 8)
        data = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
                + b"fmt " + struct.pack("<I", 16) + fmt
                + b"data" + struct.pack("<I", 4) + b"\x01\x02\x03\x04")
        assert probe_wav(data) is None

"""Real-codec tests for operators/multimodal.py (VERDICT r1 gap #3).

The BMP/PPM parsers are dependency-free and must handle real container
bytes: header fields, bottom-up rows, 4-byte row padding, comments in
PPM headers, and malformed input. Pure-Python tests (no Spark) plus one
Arrow-path test through decode_image_batches.
"""

from __future__ import annotations

import random
import re

import pytest

from nibbler_spark.operators.multimodal import (
    ImageFormatError,
    decode_image,
    encode_bmp,
    parse_bmp,
    parse_ppm,
)


def _solid(b: int, g: int, r: int):
    return lambda x, y: (b, g, r)


class TestBmp:
    def test_roundtrip_dims(self):
        for w, h in [(1, 1), (3, 2), (13, 7), (64, 1), (5, 31)]:
            payload = encode_bmp(w, h, _solid(1, 2, 3))
            d = parse_bmp(payload)
            assert (d["width"], d["height"]) == (w, h)
            assert d["n_pixels"] == w * h
            assert d["pixel_sum"] == 6 * w * h

    def test_row_padding_excluded_from_sum(self):
        # width 3 → row is 9 bytes padded to 12; the 3 pad bytes/row must
        # not contribute (encode writes zero pads, so corrupt them and
        # re-check).
        payload = bytearray(encode_bmp(3, 4, _solid(10, 10, 10)))
        row_len = 12
        for row in range(4):
            base = 54 + row * row_len
            payload[base + 9 : base + 12] = b"\xff\xff\xff"
        d = parse_bmp(bytes(payload))
        assert d["pixel_sum"] == 30 * 12  # 30/pixel * 12 pixels, pads ignored

    def test_positional_pixels(self):
        payload = encode_bmp(4, 3, lambda x, y: (x, y, 0))
        d = parse_bmp(payload)
        # sum of x over grid = 3*(0+1+2+3), sum of y = 4*(0+1+2)
        assert d["pixel_sum"] == 3 * 6 + 4 * 3

    def test_file_size_field(self):
        payload = encode_bmp(13, 7, _solid(0, 0, 0))
        import struct

        assert struct.unpack_from("<I", payload, 2)[0] == len(payload)

    def test_rejects_non_bmp(self):
        with pytest.raises(ImageFormatError):
            parse_bmp(b"NOPE" + b"\x00" * 64)

    def test_rejects_truncated(self):
        payload = encode_bmp(8, 8, _solid(1, 1, 1))
        with pytest.raises(ImageFormatError):
            parse_bmp(payload[: len(payload) // 2])

    def test_rejects_unsupported_bpp(self):
        payload = bytearray(encode_bmp(2, 2, _solid(1, 1, 1)))
        payload[28] = 32  # claim 32bpp
        with pytest.raises(ImageFormatError):
            parse_bmp(bytes(payload))


class TestPpm:
    def test_roundtrip(self):
        data = bytes(range(2 * 3)) * 3  # 2x3 RGB
        payload = b"P6\n2 3\n255\n" + data
        d = parse_ppm(payload)
        assert (d["width"], d["height"]) == (2, 3)
        assert d["pixel_sum"] == sum(data)

    def test_header_comment(self):
        payload = b"P6\n# a comment line\n2 1 255\n" + bytes(6)
        d = parse_ppm(payload)
        assert (d["width"], d["height"]) == (2, 1)

    def test_rejects_16bit(self):
        with pytest.raises(ImageFormatError):
            parse_ppm(b"P6\n1 1\n65535\n" + bytes(6))

    def test_rejects_truncated(self):
        with pytest.raises(ImageFormatError):
            parse_ppm(b"P6\n4 4\n255\n" + bytes(5))


class TestDispatch:
    def test_magic_dispatch(self):
        assert decode_image(encode_bmp(2, 2, _solid(0, 0, 0)))["fmt"] == "bmp"
        assert decode_image(b"P6\n1 1\n255\n\x00\x00\x00")["fmt"] == "ppm"
        with pytest.raises(ImageFormatError):
            decode_image(b"\x89PNG....")


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=25),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_bmp_roundtrip_property(w, h, seed):
    """encode→parse is lossless on dims and pixel sum for arbitrary
    geometry (every padding case) and pixel content."""
    pix = lambda x, y: (
        (seed + x) % 256,
        (seed * 3 + y) % 256,
        (seed + x * y) % 256,
    )
    d = parse_bmp(encode_bmp(w, h, pix))
    assert (d["width"], d["height"], d["n_pixels"]) == (w, h, w * h)
    expect = sum(sum(pix(x, y)) for x in range(w) for y in range(h))
    assert d["pixel_sum"] == expect


@settings(max_examples=300, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=30),
    h=st.integers(min_value=1, max_value=20),
    data=st.binary(min_size=0, max_size=64),
    comment=st.booleans(),
)
def test_ppm_roundtrip_property(w, h, data, comment):
    n = 3 * w * h
    body = (data * (n // max(1, len(data)) + 1))[:n] if data else bytes(n)
    hdr = b"P6\n" + (b"# c\n" if comment else b"") + f"{w} {h}\n255\n".encode()
    d = parse_ppm(hdr + body)
    assert (d["width"], d["height"]) == (w, h)
    assert d["pixel_sum"] == sum(body)


def test_decode_image_batches_arrow_path(spark):
    """The mapInPandas path decodes real BMPs partition-locally."""
    import pandas as pd

    from nibbler_spark.operators.multimodal import decode_image_batches

    rows = [
        (i, encode_bmp(1 + i % 5, 1 + i % 3, lambda x, y, i=i: (i % 256, x, y)))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in decode_image_batches(df).collect()}
    assert len(out) == 20
    for i in range(20):
        w, h = 1 + i % 5, 1 + i % 3
        assert out[i]["width"] == w and out[i]["height"] == h
        expect = sum(
            (i % 256) + x + y for x in range(w) for y in range(h)
        )
        assert out[i]["pixel_sum"] == expect


_ROWS_SCHEMA = (
    "doc_id long, tag string, n_bytes int, head array<float>, odd boolean"
)


def _describer():
    # a nested function, so the Python workers get it by value (they
    # cannot import this test module)
    def describe(p: bytes) -> dict:
        assert type(p) is bytes  # a plain value, not a numpy scalar
        return {
            "tag": p.decode(),
            "n_bytes": len(p),
            "head": [float(b) for b in p[:2]],
            "odd": len(p) % 2 == 1,
            "ignored": None,  # fields outside the schema are dropped
        }

    return describe


def test_map_rows_empty_input(spark):
    from pyspark.sql.types import DataType

    from nibbler_spark.operators.multimodal import map_rows

    df = spark.createDataFrame([], "doc_id long, payload binary")
    out = map_rows(df, "payload", _describer(), _ROWS_SCHEMA)
    assert out.schema == DataType.fromDDL(_ROWS_SCHEMA)
    assert out.collect() == []


def test_map_rows_carries_doc_id_row_for_row_across_partitions(spark):
    """Several partitions, each batch mapped row for row: every output
    row's fields come from the payload of the input row with its doc_id,
    and the columns and types are exactly the schema's."""
    from pyspark.sql.types import DataType

    from nibbler_spark.operators.multimodal import map_rows

    rows = [(i, f"doc-{i}-".encode() + b"x" * (i % 3)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary").repartition(4)
    assert df.rdd.getNumPartitions() == 4
    out = map_rows(df, "payload", _describer(), _ROWS_SCHEMA)
    assert out.schema == DataType.fromDDL(_ROWS_SCHEMA)
    got = {r["doc_id"]: r for r in out.collect()}
    assert sorted(got) == list(range(40))
    for i, p in rows:
        expect = _describer()(p)
        r = got[i]
        assert r["tag"] == expect["tag"] and r["tag"].startswith(f"doc-{i}-")
        assert r["n_bytes"] == expect["n_bytes"]
        assert r["head"] == expect["head"]
        assert r["odd"] is expect["odd"]


def test_encode_payloads_passes_int_doc_ids(spark):
    from nibbler_spark.operators.multimodal import encode_payloads

    def make(did: int) -> bytes:
        assert type(did) is int
        return did.to_bytes(2, "big")

    df = spark.range(0, 300, 7, numPartitions=3).withColumnRenamed("id", "doc_id")
    out = encode_payloads(df, make)
    assert out.schema.simpleString() == "struct<doc_id:bigint,payload:binary>"
    assert {r["doc_id"]: bytes(r["payload"]) for r in out.collect()} == {
        i: i.to_bytes(2, "big") for i in range(0, 300, 7)
    }


def test_multimodal_payload_maps_have_one_batch_loop():
    """Source guard: the per-doc encoders and decoders in
    ``queries/multimodal.py`` go through ``map_rows``/``encode_payloads``;
    the only ``mapInPandas`` calls left there are the 1→N and N→1 maps,
    and the ``*_batches`` decoders take no ``payload_col``."""
    import ast
    from pathlib import Path

    import nibbler_spark.operators.multimodal as om
    import nibbler_spark.queries.multimodal as qm

    src = Path(qm.__file__).read_text()
    assert "def encode(batches)" not in src
    assert not re.search(r"[\"']doc_id[\"']:\s*pdf\[[\"']doc_id[\"']\]", src)
    sites = sorted(
        ast.unparse(node.args[0])
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "mapInPandas"
    )
    assert sites == [
        "assemble", "assemble", "deltas", "extract", "extract", "extract",
        "extract", "frame_energies", "frame_rows", "from_tar",
    ]
    assert "payload_col" not in Path(om.__file__).read_text()


def test_decode_batches_stub_ignores_magic_collision(spark):
    """Synthetic digest payloads that happen to start with a container
    magic ("P6"/"BM") must STILL take the stub path: the oracles derive
    dims from the digest bytes for every doc, and the real parsers raise
    on digest garbage (observed at sf0.1, where a 2/65536-per-doc
    collision is near-certain)."""
    from nibbler_spark.operators.multimodal import decode_batches

    rows = [
        (0, "image/fake", b"P6" + bytes(range(14))),   # fake-PPM magic
        (1, "image/fake", b"BM" + bytes(range(14))),   # fake-BMP magic
        (2, "image/fake", bytes(range(16))),           # plain digest
    ]
    df = spark.createDataFrame(rows, "doc_id long, mime string, payload binary")
    out = {r["doc_id"]: r for r in decode_batches(df).collect()}
    assert (out[0]["width"], out[0]["height"]) == (0x50, 0x36)
    assert (out[1]["width"], out[1]["height"]) == (0x42, 0x4D)
    assert (out[2]["width"], out[2]["height"]) == (0, 1)


class TestWavCodec:
    def test_roundtrip_stats(self):
        import random

        from nibbler_spark.operators.multimodal import encode_wav, parse_wav

        rng = random.Random(42)
        for _ in range(50):
            n = rng.randint(1, 200)
            rate = rng.choice([8000, 16000, 44100])
            samples = [rng.randint(-32768, 32767) for _ in range(n)]
            d = parse_wav(encode_wav(n, rate, lambda i, s=samples: s[i]))
            assert d["fmt"] == "wav"
            assert d["sample_rate"] == rate
            assert d["n_channels"] == 1
            assert d["n_samples"] == n
            assert d["duration_ms"] == n * 1000 // rate
            assert d["sample_sum"] == sum(samples)
            assert d["peak"] == max(abs(s) for s in samples)

    def test_chunk_walk_skips_unknown_chunks(self):
        """Real WAV files interleave LIST/fact chunks before data — the
        parser must walk the chunk list, not assume fixed offsets."""
        import struct

        from nibbler_spark.operators.multimodal import encode_wav, parse_wav

        plain = encode_wav(4, 8000, lambda i: i * 100)
        fmt_chunk = plain[12:36]
        data_chunk = plain[36:]
        junk = struct.pack("<4sI", b"LIST", 6) + b"INFOxx"
        body = fmt_chunk + junk + data_chunk
        riff = struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body
        d = parse_wav(riff)
        assert d["n_samples"] == 4
        assert d["sample_sum"] == 0 + 100 + 200 + 300

    def test_rejects_non_wav(self):
        import pytest as _pytest

        from nibbler_spark.operators.multimodal import (
            AudioFormatError,
            parse_wav,
        )

        with _pytest.raises(AudioFormatError):
            parse_wav(b"OggS" + b"\x00" * 40)

    def test_rejects_non_pcm(self):
        import struct

        import pytest as _pytest

        from nibbler_spark.operators.multimodal import (
            AudioFormatError,
            encode_wav,
            parse_wav,
        )

        payload = bytearray(encode_wav(4, 8000, lambda i: 0))
        struct.pack_into("<H", payload, 20, 3)  # IEEE float fmt tag
        with _pytest.raises(AudioFormatError):
            parse_wav(bytes(payload))


class TestAviCodec:
    def test_roundtrip_stats(self):
        import random

        from nibbler_spark.operators.multimodal import encode_avi, parse_avi

        rng = random.Random(7)
        for _ in range(30):
            w, h = rng.randint(1, 4), rng.randint(1, 4)
            nf = rng.randint(1, 6)
            frames = [
                bytes(rng.randrange(256) for _ in range(3 * w * h))
                for _ in range(nf)
            ]
            d = parse_avi(encode_avi(frames, w, h, 40000))
            assert d["fmt"] == "avi"
            assert (d["width"], d["height"]) == (w, h)
            assert d["n_frames"] == nf
            assert d["frame_bytes"] == nf * 3 * w * h
            assert d["frame_sum"] == sum(sum(f) for f in frames)

    def test_odd_length_frames_word_aligned(self):
        """RIFF chunks pad odd sizes to word boundaries — the padding
        byte must not leak into frame statistics."""
        from nibbler_spark.operators.multimodal import encode_avi, parse_avi

        frames = [b"\xff" * 3, b"\x01" * 3]  # odd chunk bodies
        d = parse_avi(encode_avi(frames, 1, 1, 1000))
        assert d["frame_bytes"] == 6
        assert d["frame_sum"] == 3 * 255 + 3 * 1

    def test_rejects_non_avi(self):
        import pytest as _pytest

        from nibbler_spark.operators.multimodal import (
            VideoFormatError,
            parse_avi,
        )

        with _pytest.raises(VideoFormatError):
            parse_avi(b"RIFF\x04\x00\x00\x00WAVE")

    def test_rejects_frame_count_mismatch(self):
        import struct

        import pytest as _pytest

        from nibbler_spark.operators.multimodal import (
            VideoFormatError,
            encode_avi,
            parse_avi,
        )

        payload = bytearray(encode_avi([b"\x00" * 12], 2, 2, 1000))
        # avih dwTotalFrames sits 16 bytes into the avih body; find it
        # via the chunk id to stay robust to layout changes.
        at = payload.index(b"avih") + 8 + 16
        struct.pack_into("<I", payload, at, 5)
        with _pytest.raises(VideoFormatError):
            parse_avi(bytes(payload))


# ---------------------------------------------------------------------------
# PNG (compressed codec, stdlib zlib only)
# ---------------------------------------------------------------------------


def test_png_roundtrip_exercises_all_five_filters():
    """Encoder assigns filter y % 5, so any image with height >= 5 runs
    None/Sub/Up/Average/Paeth on both sides; pixel_sum must equal the
    closed form."""
    from nibbler_spark.operators.multimodal import (
        decode_image,
        encode_png,
        parse_png,
    )

    for w, h in [(1, 1), (13, 7), (2, 6), (31, 5)]:
        def px(x, y):
            return (
                (3 * x + 7 * y + 1) % 256,
                (5 * x + 11 * y + 2) % 256,
                (13 * x + 17 * y + 3) % 256,
            )

        buf = encode_png(w, h, px)
        d = parse_png(buf)
        expect = sum(
            sum(px(x, y)) for x in range(w) for y in range(h)
        )
        assert (d["width"], d["height"], d["pixel_sum"]) == (w, h, expect)
        assert decode_image(buf)["fmt"] == "png"


def test_png_crc_is_the_published_constant():
    """The empty IEND chunk's CRC is a spec-published constant — pins
    our CRC implementation to the standard without an external lib."""
    from nibbler_spark.operators.multimodal import encode_png

    buf = encode_png(1, 1, lambda x, y: (0, 0, 0))
    assert buf.endswith(
        b"IEND" + (0xAE426082).to_bytes(4, "big")
    )


def test_png_chunk_corruption_detected():
    from nibbler_spark.operators.multimodal import (
        ImageFormatError,
        encode_png,
        parse_png,
    )
    import pytest

    buf = bytearray(encode_png(4, 4, lambda x, y: (x, y, 7)))
    buf[20] ^= 0xFF  # flip a bit inside IHDR data
    with pytest.raises(ImageFormatError, match="CRC"):
        parse_png(bytes(buf))


def test_png_rejects_interlaced_and_non_rgb():
    from nibbler_spark.operators.multimodal import (
        ImageFormatError,
        _png_chunk,
        _PNG_SIG,
        parse_png,
    )
    import struct

    import pytest

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0)  # RGBA
    buf = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    with pytest.raises(ImageFormatError, match="unsupported"):
        parse_png(buf)


def test_gif_lzw_roundtrip_adversarial():
    """Raw LZW: random streams, dictionary-heavy repetitive data (hits
    variable-width growth and the 12-bit table reset), KwKwK cases."""
    import random

    from nibbler_spark.operators.multimodal import _lzw_decode, _lzw_encode

    rnd = random.Random(7)
    for n in [1, 5, 300, 5000, 9000]:
        data = bytes(rnd.randrange(256) for _ in range(n))
        assert _lzw_decode(_lzw_encode(data, 8), 8, n) == data
    data = b"abcabcabd" * 1500
    assert _lzw_decode(_lzw_encode(data, 8), 8, len(data)) == data


def test_gif_container_roundtrip_and_dispatch():
    from nibbler_spark.operators.multimodal import (
        _gif_palette,
        decode_image,
        encode_gif,
        parse_gif,
    )

    for w, h in [(1, 1), (13, 7), (64, 48)]:
        def idx(x, y):
            return (x * 7 + y * 13 + 5) % 256

        buf = encode_gif(w, h, idx)
        assert buf[:6] == b"GIF89a"
        d = parse_gif(buf)
        expect = sum(
            sum(_gif_palette(idx(x, y)))
            for x in range(w)
            for y in range(h)
        )
        assert (d["width"], d["height"], d["pixel_sum"]) == (w, h, expect)
        assert decode_image(buf)["fmt"] == "gif"


def test_gif_rejects_interlace_and_truncation():
    import pytest

    from nibbler_spark.operators.multimodal import (
        ImageFormatError,
        encode_gif,
        parse_gif,
    )

    buf = bytearray(encode_gif(8, 8, lambda x, y: x ^ y))
    # image descriptor sits right after header(13) + 256-entry GCT(768);
    # (searching for 0x2c would false-hit palette bytes)
    desc = 13 + 768
    assert buf[desc] == 0x2C
    buf[desc + 9] |= 0x40  # interlace flag in the packed byte
    with pytest.raises(ImageFormatError, match="interlaced"):
        parse_gif(bytes(buf))
    with pytest.raises(ImageFormatError):
        parse_gif(bytes(encode_gif(8, 8, lambda x, y: 0))[:-30])


def test_mulaw_codec_canonical_properties():
    """G.711 sanity: zero is a fixed point; encode(decode(code)) is the
    identity for all codes except the negative-zero alias 0x7F; the
    quantization error never exceeds half the top-segment step (512)."""
    from nibbler_spark.operators.multimodal import (
        mulaw_decode_sample,
        mulaw_encode_sample,
    )

    assert mulaw_decode_sample(mulaw_encode_sample(0)) == 0
    bad = [
        c
        for c in range(256)
        if mulaw_encode_sample(mulaw_decode_sample(c)) != c
    ]
    assert bad == [0x7F]  # negative zero maps to positive zero's code
    worst = 0
    for s in range(-32768, 32768, 7):
        r = mulaw_decode_sample(mulaw_encode_sample(s))
        clipped = min(max(s, -32635), 32635)
        worst = max(worst, abs(r - clipped))
    assert worst <= 512


def test_mulaw_wav_container_roundtrip():
    from nibbler_spark.operators.multimodal import (
        encode_wav_mulaw,
        mulaw_decode_sample,
        mulaw_encode_sample,
        parse_wav,
    )

    def sample(i):
        return (i * 997 - 50000) % 65536 - 32768

    n = 100
    d = parse_wav(encode_wav_mulaw(n, 8000, sample))
    expect = sum(
        mulaw_decode_sample(mulaw_encode_sample(sample(i)))
        for i in range(n)
    )
    assert d["fmt"] == "wav-mulaw"
    assert (d["n_samples"], d["sample_sum"]) == (n, expect)


def test_mjpeg_avi_composes_container_and_jpeg_decoder():
    from nibbler_spark.operators.jpeg_codec import encode_jpeg_gray
    from nibbler_spark.operators.multimodal import encode_avi, parse_avi

    w, h, nf = 16, 8, 3

    def px(f):
        return lambda x, y: ((x // 8) * 37 + 11 * f + 5) % 256

    frames = [encode_jpeg_gray(w, h, px(f)) for f in range(nf)]
    d = parse_avi(encode_avi(frames, w, h, 40000, codec=b"MJPG"))
    assert d["fmt"] == "avi-mjpeg"
    assert (d["width"], d["height"], d["n_frames"]) == (w, h, nf)
    expect = sum(
        px(f)(x, y) for f in range(nf) for x in range(w) for y in range(h)
    )
    assert d["frame_sum"] == expect
    # plain DIB path still intact
    d2 = parse_avi(encode_avi([b"\x01\x02"] * 2, 1, 1, 40000))
    assert d2["fmt"] == "avi" and d2["frame_sum"] == 6


def test_tiff_lzw_roundtrip_properties():
    """TIFF LZW: MSB-first + early-change writer/reader pair must
    roundtrip across entropy regimes — random (fast table growth,
    multiple 12-bit resets), constant runs (KwKwK), and short tails."""
    import random

    from nibbler_spark.operators.multimodal import (
        _lzw_decode_tiff,
        _lzw_encode_tiff,
    )

    rng = random.Random(11)
    for n in (0, 1, 2, 300, 5000, 60000):
        data = bytes(rng.randrange(256) for _ in range(n))
        assert _lzw_decode_tiff(_lzw_encode_tiff(data), n) == data
    for pat in (b"a" * 30000, bytes(i % 5 for i in range(40000))):
        assert _lzw_decode_tiff(_lzw_encode_tiff(pat), len(pat)) == pat


def test_tiff_container_roundtrip_and_dispatch():
    from nibbler_spark.operators.multimodal import (
        decode_image,
        encode_tiff_lzw,
        parse_tiff,
    )

    t = encode_tiff_lzw(19, 7, lambda x, y: (3 * x + 5 * y) % 256)
    want = sum((3 * x + 5 * y) % 256 for y in range(7) for x in range(19))
    for parse in (parse_tiff, decode_image):
        d = parse(t)
        assert (d["fmt"], d["width"], d["height"], d["n_pixels"]) == (
            "tiff",
            19,
            7,
            133,
        )
        assert d["pixel_sum"] == want


def test_tiff_rejects_non_lzw_and_truncation():
    import pytest

    from nibbler_spark.operators.multimodal import (
        ImageFormatError,
        encode_tiff_lzw,
        parse_tiff,
    )

    t = bytearray(encode_tiff_lzw(9, 9, lambda x, y: x ^ y))
    bad = bytes(t[:20])  # strip cut mid-stream, IFD gone
    with pytest.raises((ImageFormatError, Exception)):
        parse_tiff(bad)


def test_adpcm_roundtrip_and_container():
    """IMA ADPCM: smooth signals reconstruct within tight bounds, the
    WAV container (fmt 0x11 + fact chunk) parses through the generic
    dispatch, and arbitrary int16 data decodes to the exact count."""
    import random

    from nibbler_spark.operators.multimodal import (
        adpcm_decode,
        adpcm_encode,
        encode_wav_adpcm,
        parse_wav,
    )

    def tri(i, period=64, amp=3000):
        return amp - abs(i % period - period // 2) * (4 * amp // period)

    sig = [tri(i) for i in range(4001)]
    dec = adpcm_decode(adpcm_encode(sig), len(sig))
    errs = [abs(a - b) for a, b in zip(sig, dec)]
    assert sum(errs) / len(errs) <= 64 and max(errs) <= 2048
    meta = parse_wav(encode_wav_adpcm(sig))
    assert meta["fmt"] == "wav-adpcm"
    assert meta["n_samples"] == len(sig)
    assert meta["sample_sum"] == sum(dec)
    rng = random.Random(5)
    noisy = [rng.randrange(-32768, 32768) for _ in range(777)]
    assert len(adpcm_decode(adpcm_encode(noisy), 777)) == 777


# ---------------------------------------------------------------- QOI


def test_qoi_roundtrip_property():
    """Roundtrip across pixel regimes chosen to force every chunk type:
    constant (RUN), gradient (DIFF/LUMA), small palette (INDEX), and
    high-entropy (RGB literals)."""
    import random

    from nibbler_spark.operators.multimodal import encode_qoi, parse_qoi

    for trial in range(40):
        rnd = random.Random(trial)
        w, h = rnd.randint(1, 24), rnd.randint(1, 16)
        mode = trial % 4
        pal = rnd.randint(2, 6)

        def pix(x, y, mode=mode, pal=pal, trial=trial):
            if mode == 0:
                return (10, 20, 30)
            if mode == 1:
                return ((x + y) % 256, (x + y + 1) % 256, (x + y + 2) % 256)
            if mode == 2:
                r = random.Random((x * 31 + y) % pal)
                return tuple(r.randrange(256) for _ in range(3))
            r = random.Random(x * 1000003 + y * 101 + trial)
            return tuple(r.randrange(256) for _ in range(3))

        d = parse_qoi(encode_qoi(w, h, pix))
        expect = sum(
            sum(pix(x, y)) for y in range(h) for x in range(w)
        )
        assert (d["width"], d["height"], d["n_pixels"]) == (w, h, w * h)
        assert d["pixel_sum"] == expect, trial


def test_qoi_leading_run_of_implicit_start_pixel_is_indexed():
    """The implicit (0,0,0,255) start pixel covered only by a leading
    RUN must still land in the index array (reference-codec parity) so
    later INDEX ops can reference it."""
    from nibbler_spark.operators.multimodal import encode_qoi, parse_qoi

    def pix(x, y):
        if y == 0:
            return (0, 0, 0)
        if y == 1:
            return (9, 9, 9)
        return (0, 0, 0)

    d = parse_qoi(encode_qoi(4, 3, pix))
    assert d["pixel_sum"] == 4 * 27


def test_qoi_run_chunk_splits_at_62():
    from nibbler_spark.operators.multimodal import encode_qoi, parse_qoi

    d = parse_qoi(encode_qoi(130, 1, lambda x, y: (1, 2, 3)))
    assert d["n_pixels"] == 130 and d["pixel_sum"] == 130 * 6


def test_qoi_dispatch_and_bad_magic():
    from nibbler_spark.operators.multimodal import (
        ImageFormatError,
        decode_image,
        encode_qoi,
    )

    payload = encode_qoi(3, 2, lambda x, y: (x, y, 7))
    assert decode_image(payload)["fmt"] == "qoi"
    with pytest.raises(ImageFormatError):
        from nibbler_spark.operators.multimodal import parse_qoi

        parse_qoi(b"qoix" + payload[4:])


def test_qoi_truncated_stream_detected():
    from nibbler_spark.operators.multimodal import (
        ImageFormatError,
        encode_qoi,
        parse_qoi,
    )

    payload = encode_qoi(5, 5, lambda x, y: ((x * 37 + y * 91) % 256, x, y))
    with pytest.raises((ImageFormatError, IndexError)):
        parse_qoi(payload[:-9])


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 32),
    h=st.integers(1, 24),
    seed=st.integers(0, 2**31),
    regime=st.integers(0, 3),
)
def test_qoi_roundtrip_hypothesis(w, h, seed, regime):
    """Hypothesis sweep over sizes and pixel regimes (constant /
    gradient / small-palette / high-entropy)."""
    import random

    from nibbler_spark.operators.multimodal import encode_qoi, parse_qoi

    def pix(x, y):
        if regime == 0:
            return (seed % 256, (seed >> 8) % 256, (seed >> 16) % 256)
        if regime == 1:
            return ((x + seed) % 256, (y + seed) % 256, (x + y) % 256)
        if regime == 2:
            r = random.Random((x * 31 + y) % 5 + seed)
            return tuple(r.randrange(256) for _ in range(3))
        r = random.Random(x * 1000003 + y * 101 + seed)
        return tuple(r.randrange(256) for _ in range(3))

    d = parse_qoi(encode_qoi(w, h, pix))
    assert (d["width"], d["height"]) == (w, h)
    assert d["pixel_sum"] == sum(
        sum(pix(x, y)) for y in range(h) for x in range(w)
    )


# ---------------------------------------------------------------- WARC


def test_warc_roundtrip_and_framing_errors():
    from nibbler_spark.operators.multimodal import encode_warc, parse_warc

    recs = [
        ("http://a/1", "plain"),
        ("http://a/2", "body with\r\nCRLF and WARC/1.0 lookalike text"),
        ("http://a/3", ""),
        ("http://a/4", "unicode tëxt ✓"),
    ]
    back = parse_warc(encode_warc(recs))
    assert [(r["uri"], r["text"]) for r in back] == recs
    assert all(r["http_status"] == 200 for r in back)
    blob = encode_warc(recs)
    with pytest.raises(ValueError):
        parse_warc(blob[:-3])  # broken trailing framing
    with pytest.raises(ValueError):
        parse_warc(b"GZIP" + blob)  # bad magic


# ---------------------------------------------------------------- TGA


@pytest.mark.parametrize("regime", range(4))
def test_tga_roundtrip_matches_bmp(regime):
    from nibbler_spark.operators.multimodal import (
        encode_bmp,
        encode_tga,
        parse_bmp,
        parse_tga,
    )

    rng = random.Random(regime * 991)
    for _ in range(30):
        w, h = rng.randint(1, 40), rng.randint(1, 16)
        cache = {}

        def pix(x, y):
            if (x, y) not in cache:
                if regime == 0:  # single run per row
                    cache[(x, y)] = (5, 6, 7)
                elif regime == 1:  # all literals
                    cache[(x, y)] = (x % 256, (3 * x) % 256, y % 256)
                elif regime == 2:  # mixed plateaus
                    cache[(x, y)] = (
                        (x // 4) % 256,
                        (x // 4 + 1) % 256,
                        y % 256,
                    )
                else:  # random
                    cache[(x, y)] = tuple(
                        rng.randrange(256) for _ in range(3)
                    )
            return cache[(x, y)]

        t = parse_tga(encode_tga(w, h, pix))
        b = parse_bmp(encode_bmp(w, h, pix))
        assert t["fmt"] == "tga"
        assert (t["width"], t["height"], t["n_pixels"], t["pixel_sum"]) == (
            b["width"],
            b["height"],
            b["n_pixels"],
            b["pixel_sum"],
        )


def test_tga_long_run_splits_at_128():
    from nibbler_spark.operators.multimodal import encode_tga, parse_tga

    # a 300-pixel constant row must split into 128+128+44 RLE packets
    blob = encode_tga(300, 1, lambda x, y: (9, 9, 9))
    d = parse_tga(blob)
    assert d["n_pixels"] == 300 and d["pixel_sum"] == 300 * 27


def test_tga_dispatch_and_errors():
    from nibbler_spark.operators.multimodal import (
        ImageFormatError,
        decode_image,
        encode_tga,
    )

    blob = encode_tga(6, 3, lambda x, y: (x % 256, y % 256, 1))
    assert decode_image(blob)["fmt"] == "tga"
    with pytest.raises(ImageFormatError):
        decode_image(blob[:-1])  # footer destroyed -> unknown container
    # truncated packet stream with an intact footer
    broken = blob[:20] + blob[-26:]
    with pytest.raises(ImageFormatError):
        decode_image(broken)


# ---------------------------------------------------------------- AIFF


def test_f80_extended_float_roundtrip():
    from nibbler_spark.operators.multimodal import _f80_decode, _f80_encode

    for v in [1, 2, 3, 8000, 11025, 22050, 44100, 48000, 96000, 192000,
              (1 << 62) - 1]:
        assert _f80_decode(_f80_encode(v)) == v
    # the canonical 44100 encoding (sign 0, exp 0x400E, mantissa
    # 0xAC44000000000000) — pinned from the AIFF-C spec examples
    import struct as _struct

    from nibbler_spark.operators.multimodal import _f80_encode as enc

    exp, mant = _struct.unpack(">HQ", enc(44100))
    assert exp == 0x400E and mant == 0xAC44 << 48


def test_aiff_roundtrip_and_dispatch():
    from nibbler_spark.operators.multimodal import (
        AudioFormatError,
        decode_audio,
        encode_aiff,
    )

    rng = random.Random(4242)
    for _ in range(20):
        n = rng.randint(1, 400)
        rate = rng.choice([8000, 11025, 44100, 48000])
        vals = [rng.randint(-32768, 32767) for _ in range(n)]
        d = decode_audio(encode_aiff(n, rate, lambda i: vals[i]))
        assert d["fmt"] == "aiff"
        assert d["sample_rate"] == rate and d["n_samples"] == n
        assert d["sample_sum"] == sum(vals)
        assert d["peak"] == max(abs(v) for v in vals)
    blob = encode_aiff(10, 8000, lambda i: i)
    with pytest.raises(AudioFormatError):
        decode_audio(blob[:30])  # SSND truncated away
    with pytest.raises(AudioFormatError):
        decode_audio(b"XXXX" + blob[4:])  # unknown magic


def test_mp4_box_walk_and_sample_tables():
    from nibbler_spark.operators.multimodal import (
        Mp4FormatError,
        encode_mp4,
        parse_mp4,
    )
    import pytest
    import struct

    frames = [bytes((i * 3 + j) % 256 for j in range(10 + 2 * i)) for i in range(4)]
    d = parse_mp4(encode_mp4(frames))
    assert d["n_frames"] == 4
    assert d["frame_bytes"] == sum(len(f) for f in frames)
    assert d["frame_sum"] == sum(sum(f) for f in frames)
    # corrupting a box size must fail loudly, not mis-walk
    buf = bytearray(encode_mp4(frames))
    i = buf.find(b"moov") - 4
    struct.pack_into(">I", buf, i, 4)  # size < 8
    with pytest.raises(Mp4FormatError):
        parse_mp4(bytes(buf))
    # truncating mdat makes a sample extend past EOF
    whole = encode_mp4(frames)
    with pytest.raises(Mp4FormatError):
        parse_mp4(whole[: len(whole) - len(frames[-1]) - 200] + whole[-200:])

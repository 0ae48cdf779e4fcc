"""Multimodal column operators (SURVEY §2.3 K14).

Design: image/audio/video payloads ride as opaque ``binary`` columns next
to a typed metadata struct; every transformation is an Arrow-batched
``mapInPandas`` over (payload, metadata) so a 100 TB corpus streams
through Python workers batch-by-batch without ever materializing rows on
the driver. A per-row payload map (one output row per input row, keyed
by ``doc_id``) is a call to :func:`map_rows`, or :func:`encode_payloads`
for an encoder; only the 1→N and N→1 maps write their own batch loop.

Decoding: real, dependency-free codecs — uncompressed containers (BMP
24-bit with bottom-up rows and 4-byte padding; binary PPM; WAV/PCM;
DIB-frame AVI) AND compressed formats built from their public specs:
PNG (stdlib-zlib DEFLATE, chunk CRCs, all five scanline filters), GIF
(from-scratch variable-width LZW), baseline JPEG (see
``operators/jpeg_codec.py``), G.711 μ-law WAV, and Motion-JPEG AVI
(container walk composed with the JPEG decoder). ``decode_image``
dispatches on container magic and raises on an unknown one;
``decode_batches`` is the deterministic synthetic decode the carriage
queries over fake payloads use. Remaining formats (MP3, H.264) plug in
at the same dispatch point.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

DECODED_SCHEMA = (
    "doc_id long, mime string, n_bytes long, width int, height int, "
    "payload_md5 string"
)


def map_rows(
    df: DataFrame, col: str, fn: Callable[[object], dict], schema: str
) -> DataFrame:
    """One ``mapInPandas`` that calls ``fn`` on each value of ``col``.

    ``fn`` gets a plain Python value (``int`` for ``doc_id``, ``bytes``
    for a binary column) and returns a dict holding at least the
    ``schema`` fields other than ``doc_id``; ``doc_id`` is carried over
    from the input row by row."""
    fields = [
        f.name for f in DataType.fromDDL(schema).fields if f.name != "doc_id"
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [fn(v) for v in pdf[col].tolist()]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"]}
                | {f: [r[f] for r in rows] for f in fields}
            )

    return df.mapInPandas(run, schema)


def encode_payloads(docs: DataFrame, make: Callable[[int], bytes]) -> DataFrame:
    """``doc_id`` → ``(doc_id, payload)``, one ``make(doc_id)`` container
    per row."""
    return map_rows(
        docs, "doc_id", lambda did: {"payload": make(did)},
        "doc_id long, payload binary",
    )


def _decode_stub(payload: bytes, mime: str) -> dict:
    """Deterministic fake decode: derives 'image dimensions' from the
    first two payload bytes. A real decoder would parse the container
    format here."""
    return {
        "width": payload[0] if len(payload) > 0 else 0,
        "height": payload[1] if len(payload) > 1 else 0,
    }


class ImageFormatError(ValueError):
    """Raised when a payload claims a container format it doesn't parse as."""


def encode_bmp(width: int, height: int, pixel: Callable[[int, int], tuple[int, int, int]]) -> bytes:
    """Write a real 24-bit uncompressed BMP (BITMAPFILEHEADER +
    BITMAPINFOHEADER): bottom-up row order, each row padded to a 4-byte
    boundary. ``pixel(x, y)`` returns (b, g, r) for the TOP-DOWN logical
    coordinate (x, y)."""
    row_len = (3 * width + 3) & ~3
    data_size = row_len * height
    header = struct.pack(
        "<2sIHHI" "IiiHHIIiiII",
        b"BM", 54 + data_size, 0, 0, 54,
        40, width, height, 1, 24, 0, data_size, 2835, 2835, 0, 0,
    )
    rows = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up storage
        for x in range(width):
            rows += bytes(pixel(x, y))
        rows += b"\x00" * (row_len - 3 * width)
    return header + bytes(rows)


def parse_bmp(payload: bytes) -> dict:
    """Parse a 24-bit uncompressed BMP: header fields + full pixel
    traversal (padding skipped, bottom-up rows normalized). Returns
    width/height plus pixel statistics proving real pixel access."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ImageFormatError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ImageFormatError(
            f"unsupported BMP variant (hdr={hdr_size} bpp={bpp} "
            f"compression={compression})"
        )
    bottom_up = height > 0
    height = abs(height)
    row_len = (3 * width + 3) & ~3
    if len(payload) < data_offset + row_len * height:
        raise ImageFormatError("truncated BMP pixel data")
    total = 0
    for row in range(height):
        base = data_offset + row * row_len
        total += sum(payload[base : base + 3 * width])
    return {
        "fmt": "bmp",
        "width": width,
        "height": height,
        "bottom_up": bottom_up,
        "n_pixels": width * height,
        "pixel_sum": total,
    }


def parse_ppm(payload: bytes) -> dict:
    """Parse a binary PPM (P6): whitespace-delimited ASCII header
    (magic, width, height, maxval) then raw RGB triples."""
    if payload[:2] != b"P6":
        raise ImageFormatError("not a P6 PPM payload")
    # Header tokens may be separated by any whitespace and '#' comments.
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ImageFormatError("truncated PPM header")
        tokens.append(payload[start:pos])
    pos += 1  # single whitespace after maxval, then raw data
    width, height, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ImageFormatError("16-bit PPM not supported")
    n = 3 * width * height
    if len(payload) < pos + n:
        raise ImageFormatError("truncated PPM pixel data")
    data = payload[pos : pos + n]
    return {
        "fmt": "ppm",
        "width": width,
        "height": height,
        "bottom_up": False,
        "n_pixels": width * height,
        "pixel_sum": sum(data),
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(
    width: int, height: int, pixel: Callable[[int, int], tuple[int, int, int]]
) -> bytes:
    """Write a REAL compressed PNG (RGB8, non-interlaced): IHDR/IDAT/
    IEND chunks with correct CRC32s, scanlines DEFLATE-compressed via
    stdlib zlib. Each row y uses filter type y % 5, so a decoder must
    implement ALL five spec filters (None/Sub/Up/Average/Paeth) to
    reconstruct the pixels — the encode side computes the true filtered
    residuals, not just filter 0. ``pixel(x, y)`` returns (r, g, b)."""
    import zlib

    bpp = 3
    raw_rows = []
    for y in range(height):
        row = bytearray()
        for x in range(width):
            row += bytes(pixel(x, y))
        raw_rows.append(bytes(row))
    out = bytearray()
    prior = b"\x00" * (width * bpp)
    for y, row in enumerate(raw_rows):
        f = y % 5
        out.append(f)
        for i in range(len(row)):
            left = row[i - bpp] if i >= bpp else 0
            up = prior[i]
            ul = prior[i - bpp] if i >= bpp else 0
            if f == 0:
                v = row[i]
            elif f == 1:
                v = row[i] - left
            elif f == 2:
                v = row[i] - up
            elif f == 3:
                v = row[i] - (left + up) // 2
            else:
                v = row[i] - _paeth(left, up, ul)
            out.append(v & 0xFF)
        prior = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def parse_png(payload: bytes) -> dict:
    """Parse a compressed PNG (RGB8, non-interlaced): chunk walk with
    CRC32 verification, IDAT concatenation + zlib inflate, then full
    scanline reconstruction through all five spec filters. The
    pixel_sum proves real decompressed-pixel access."""
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ImageFormatError("not a PNG payload")
    pos = len(_PNG_SIG)
    width = height = None
    idat = bytearray()
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ImageFormatError(f"PNG chunk CRC mismatch in {typ!r}")
        pos += 12 + length
        if typ == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8 or ctype != 2 or comp != 0 or interlace != 0:
                raise ImageFormatError(
                    f"unsupported PNG variant (depth={depth} color={ctype} "
                    f"interlace={interlace})"
                )
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if width is None:
        raise ImageFormatError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    bpp = 3
    stride = width * bpp
    if len(raw) != height * (stride + 1):
        raise ImageFormatError("PNG scanline data length mismatch")
    total = 0
    prior = bytearray(stride)
    for y in range(height):
        f = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if f > 4:
            raise ImageFormatError(f"invalid PNG filter type {f}")
        for i in range(stride):
            left = line[i - bpp] if i >= bpp else 0
            up = prior[i]
            ul = prior[i - bpp] if i >= bpp else 0
            if f == 1:
                line[i] = (line[i] + left) & 0xFF
            elif f == 2:
                line[i] = (line[i] + up) & 0xFF
            elif f == 3:
                line[i] = (line[i] + (left + up) // 2) & 0xFF
            elif f == 4:
                line[i] = (line[i] + _paeth(left, up, ul)) & 0xFF
        total += sum(line)
        prior = line
    return {
        "fmt": "png",
        "width": width,
        "height": height,
        "bottom_up": False,
        "n_pixels": width * height,
        "pixel_sum": total,
    }


class _BitWriter:
    """LSB-first bit packer (GIF's LZW code stream order)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF-flavoured LZW: variable-width codes (LSB-first), CLEAR/END
    control codes, 12-bit table cap with explicit reset."""
    clear = 1 << min_code_size
    end = clear + 1
    bw = _BitWriter()

    def reset():
        return {bytes([i]): i for i in range(clear)}, end + 1, min_code_size + 1

    table, next_code, width = reset()
    bw.write(clear, width)
    w = b""
    for byte in data:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        bw.write(table[w], width)
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code > 4095:
            bw.write(clear, width)
            table, next_code, width = reset()
        w = bytes([byte])
    if w:
        bw.write(table[w], width)
    bw.write(end, width)
    return bw.finish()


def _lzw_decode(buf: bytes, min_code_size: int, n_expected: int) -> bytes:
    """Inverse of :func:`_lzw_encode`, per the GIF spec's decoder rules
    (including the KwKwK self-referencing case)."""
    clear = 1 << min_code_size
    end = clear + 1
    pos_bits = 0
    total_bits = len(buf) * 8

    def read(width: int) -> int:
        nonlocal pos_bits
        if pos_bits + width > total_bits:
            raise ImageFormatError("truncated LZW stream")
        byte_pos = pos_bits // 8
        acc = int.from_bytes(
            buf[byte_pos : byte_pos + 4], "little"
        ) >> (pos_bits % 8)
        pos_bits += width
        return acc & ((1 << width) - 1)

    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    next_code = end + 1
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ImageFormatError("corrupt LZW code stream")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
        if len(out) > n_expected:
            raise ImageFormatError("LZW output exceeds pixel count")
    return bytes(out)


def _gif_palette(i: int) -> tuple[int, int, int]:
    """Deterministic 256-entry palette (closed-form for the oracle)."""
    return ((2 * i + 1) % 256, (3 * i + 5) % 256, (5 * i + 7) % 256)


def encode_gif(
    width: int, height: int, index: Callable[[int, int], int]
) -> bytes:
    """Write a REAL compressed GIF89a: logical screen descriptor, a
    256-entry global color table (deterministic formula palette), one
    image block whose pixel indices are genuinely LZW-compressed with
    variable-width codes. ``index(x, y)`` returns the palette index."""
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", width, height, 0xF7, 0, 0)  # GCT, 256
    for i in range(256):
        out += bytes(_gif_palette(i))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    data = bytes(
        index(x, y) & 0xFF for y in range(height) for x in range(width)
    )
    out.append(8)  # LZW minimum code size
    stream = _lzw_encode(data, 8)
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)  # sub-block terminator
    out += b"\x3b"  # trailer
    return bytes(out)


def parse_gif(payload: bytes) -> dict:
    """Parse a GIF87a/89a: screen descriptor, global color table,
    extension skipping, image descriptor, then FULL LZW decompression
    of the pixel indices; pixel_sum maps every decoded index through
    the color table, proving real decompressed-pixel access."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ImageFormatError("not a GIF payload")
    sw, sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    palette: list[tuple[int, int, int]] = []
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        for i in range(n):
            palette.append(tuple(payload[pos + 3 * i : pos + 3 * i + 3]))
        pos += 3 * n
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:
            left, top, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos)
            pos += 9
            if ipacked & 0x80:  # local color table
                n = 2 << (ipacked & 0x07)
                palette = [
                    tuple(payload[pos + 3 * i : pos + 3 * i + 3])
                    for i in range(n)
                ]
                pos += 3 * n
            if ipacked & 0x40:
                raise ImageFormatError("interlaced GIF not supported")
            min_code = payload[pos]
            pos += 1
            stream = bytearray()
            while payload[pos]:
                ln = payload[pos]
                stream += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            indices = _lzw_decode(bytes(stream), min_code, w * h)
            if len(indices) != w * h:
                raise ImageFormatError(
                    f"GIF pixel count mismatch: {len(indices)} != {w * h}"
                )
            total = sum(sum(palette[i]) for i in indices)
            return {
                "fmt": "gif",
                "width": w,
                "height": h,
                "bottom_up": False,
                "n_pixels": w * h,
                "pixel_sum": total,
            }
        elif block == 0x3B:
            break
        else:
            raise ImageFormatError(f"unknown GIF block 0x{block:02x}")
    raise ImageFormatError("GIF contained no image block")


def decode_image(payload: bytes) -> dict:
    """Dispatch on container magic to a real parser."""
    if payload[:2] == b"BM":
        return parse_bmp(payload)
    if payload[:2] == b"P6":
        return parse_ppm(payload)
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        return parse_png(payload)
    if payload[:3] == b"GIF":
        return parse_gif(payload)
    if payload[:2] == b"\xff\xd8":
        from nibbler_spark.operators.jpeg_codec import decode_jpeg

        return decode_jpeg(payload)
    if payload[:4] == b"II\x2a\x00":
        return parse_tiff(payload)
    if payload[:4] == b"qoif":
        return parse_qoi(payload)
    if payload.endswith(_TGA_FOOTER):
        return parse_tga(payload)
    raise ImageFormatError("unknown container format")


def decode_batches(df: DataFrame) -> DataFrame:
    """mapInPandas decode pipeline: binary payload → typed features.

    Arrow moves each partition through Python in columnar batches; the
    output schema is fixed so downstream relational ops keep codegen.
    """

    def decode_one(p: bytes, m: str) -> dict:
        # Synthetic-carriage path ONLY: every caller attaches md5-digest
        # payloads and every oracle derives dims from the digest bytes,
        # so dispatching on container magic here is a latent crash — a
        # 16-byte digest starts with "P6"/"BM" with p = 2/65536 per doc,
        # a certainty at sf0.1 row counts (observed: parse_ppm raised on
        # a digest payload). Real containers go through
        # decode_image_batches, which always parses.
        return _decode_stub(p, m)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            decoded = [
                decode_one(p, m)
                for p, m in zip(payloads, pdf["mime"], strict=True)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "n_bytes": payloads.map(len),
                    "width": [d["width"] for d in decoded],
                    "height": [d["height"] for d in decoded],
                    "payload_md5": payloads.map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                }
            )

    return df.mapInPandas(run, DECODED_SCHEMA)


IMAGE_SCHEMA = (
    "doc_id long, fmt string, width int, height int, n_pixels long, "
    "pixel_sum long"
)


def decode_image_batches(df: DataFrame) -> DataFrame:
    """mapInPandas over REAL encoded containers (BMP/PPM): parses header
    and traverses actual pixel bytes (padding-aware), emitting dimensions
    and pixel statistics. Unknown containers raise — this path is for
    genuinely encoded payloads, not the synthetic-carriage stub."""
    return map_rows(df, "payload", decode_image, IMAGE_SCHEMA)


RESIZED_SCHEMA = "doc_id long, width int, height int, out_w int, out_h int"
FRAME_SCHEMA = "doc_id long, frame_idx int, frame_md5 string"
FEATURE_SCHEMA = "doc_id long, features array<float>"

_BOX = 64  # resize target box (longest edge)


def resize_batches(decoded: DataFrame) -> DataFrame:
    """mapInPandas 'resize': aspect-preserving fit into a 64×64 box,
    integer arithmetic only (deterministic, oracle-recomputable). A real
    implementation would call the codec's resampler on the pixel buffer;
    the geometry math — the part Spark sees — is identical."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["width"].astype("int64")
            h = pdf["height"].astype("int64")
            m = w.combine(h, max).clip(lower=1)
            scale_needed = m > _BOX
            out_w = w.where(~scale_needed, (w * _BOX) // m)
            out_h = h.where(~scale_needed, (h * _BOX) // m)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w.astype("int32"),
                    "height": h.astype("int32"),
                    "out_w": out_w.astype("int32"),
                    "out_h": out_h.astype("int32"),
                }
            )

    return decoded.mapInPandas(run, RESIZED_SCHEMA)


def frame_sample_batches(df: DataFrame, stride: int = 4) -> DataFrame:
    """mapInPandas frame sampler: treats each payload BYTE OFFSET as a
    frame boundary and emits one sampled frame per ``stride`` bytes
    (frame_idx = byte offset, so a payload of n bytes yields
    ceil(n/stride) frames), each with a deterministic fingerprint
    (md5 of payload-hex + ':' + offset). One input row fans out to
    several output rows — the Arrow path supports 1→N row expansion
    without an explode stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, digests = [], [], []
            for doc_id, payload in zip(
                pdf["doc_id"], pdf["payload"], strict=True
            ):
                hx = bytes(payload).hex()
                for i in range(0, len(payload), stride):
                    ids.append(doc_id)
                    idxs.append(i)
                    digests.append(
                        hashlib.md5(f"{hx}:{i}".encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_md5": digests}
            )

    return df.mapInPandas(run, FRAME_SCHEMA)


def feature_extract_batches(df: DataFrame, n: int = 8) -> DataFrame:
    """mapInPandas feature extraction: first ``n`` payload bytes scaled to
    [0,1] as a float vector — the stand-in for a real CNN/CLAP embedding
    head. Output is ArrayType(Float), joinable against the embeddings
    table's similarity operators (K6/K7)."""
    return map_rows(
        df,
        "payload",
        lambda p: {"features": [round(b / 255.0, 4) for b in p[:n]]},
        FEATURE_SCHEMA,
    )


def attach_synthetic_payload(docs: DataFrame) -> DataFrame:
    """Derive a deterministic binary payload + metadata struct from the
    documents table (the container has no real media files): payload =
    md5 digest bytes of the text, metadata = {mime, size}."""
    payload = F.unhex(F.md5("text"))
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("image/fake").alias("mime"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.octet_length(payload).alias("size"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# Audio: real dependency-free WAV (RIFF/PCM) codec — the audio analogue of
# the BMP/PPM image path. Compressed codecs (MP3/FLAC/Opus) plug into the
# same magic-dispatch seam.

AUDIO_SCHEMA = (
    "doc_id long, fmt string, sample_rate int, n_channels int, "
    "n_samples long, duration_ms long, sample_sum long, peak int"
)


class AudioFormatError(ValueError):
    """Raised when a payload claims an audio container it doesn't parse as."""


def encode_wav(
    n_samples: int, sample_rate: int, sample: Callable[[int], int]
) -> bytes:
    """Write a real mono 16-bit PCM WAV: RIFF header, fmt subchunk
    (PCM, 1 channel), data subchunk of little-endian int16 samples.
    ``sample(i)`` must return a value in [-32768, 32767]."""
    data = struct.pack(f"<{n_samples}h", *(sample(i) for i in range(n_samples)))
    byte_rate = sample_rate * 2
    hdr = struct.pack(
        "<4sI4s" "4sIHHIIHH" "4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, byte_rate, 2, 16,
        b"data", len(data),
    )
    return hdr + data


_ULAW_BIAS = 0x84
_ULAW_CLIP = 32635


def mulaw_encode_sample(s: int) -> int:
    """G.711 μ-law compress one int16 sample to an 8-bit code (CCITT
    reference algorithm: bias, segment search, complemented output)."""
    sign = 0x80 if s < 0 else 0x00
    mag = min(abs(s), _ULAW_CLIP) + _ULAW_BIAS
    exponent = 7
    mask = 0x4000
    while not (mag & mask) and exponent > 0:
        mask >>= 1
        exponent -= 1
    mantissa = (mag >> (exponent + 3)) & 0x0F
    return ~(sign | (exponent << 4) | mantissa) & 0xFF


def mulaw_decode_sample(code: int) -> int:
    """G.711 μ-law expand an 8-bit code back to int16."""
    u = ~code & 0xFF
    t = (((u & 0x0F) << 3) + _ULAW_BIAS) << ((u >> 4) & 0x07)
    return _ULAW_BIAS - t if u & 0x80 else t - _ULAW_BIAS


def encode_wav_mulaw(
    n_samples: int, sample_rate: int, sample: Callable[[int], int]
) -> bytes:
    """Write a real mono G.711 μ-law WAV (format tag 7, 8 bits/sample)
    — an actual COMPRESSED audio variant (2:1 logarithmic PCM), not a
    container relabel. ``sample(i)`` returns int16 values."""
    data = bytes(
        mulaw_encode_sample(int(sample(i))) for i in range(n_samples)
    )
    hdr = struct.pack(
        "<4sI4s" "4sIHHIIHH" "4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 7, 1, sample_rate, sample_rate, 1, 8,
        b"data", len(data),
    )
    return hdr + data


def parse_wav(payload: bytes) -> dict:
    """Parse a PCM or μ-law WAV: validate RIFF/WAVE magic, WALK the
    subchunk list (fmt may be followed by LIST/fact chunks before data —
    real files do this), then traverse every sample; μ-law data (format
    tag 7) is expanded through the G.711 table math before the stats.
    Returns rate/channel metadata plus exact sample statistics proving
    real sample access."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise AudioFormatError("not a RIFF/WAVE payload")
    pos, fmt, data, fact_frames = 12, None, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise AudioFormatError("short fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"fact" and size >= 4:
            (fact_frames,) = struct.unpack_from("<I", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise AudioFormatError("missing fmt or data chunk")
    audio_fmt, n_channels, sample_rate, _byte_rate, _align, bits = fmt
    if audio_fmt == 0x11 and bits == 4:
        if n_channels != 1 or fact_frames is None:
            raise AudioFormatError("only mono ADPCM with a fact chunk")
        samples = adpcm_decode(data, fact_frames)
        return {
            "fmt": "wav-adpcm",
            "sample_rate": sample_rate,
            "n_channels": 1,
            "n_samples": fact_frames,
            "duration_ms": fact_frames * 1000 // sample_rate,
            "sample_sum": sum(samples),
            "peak": max((abs(x) for x in samples), default=0),
        }
    if audio_fmt == 7 and bits == 8:
        samples = tuple(mulaw_decode_sample(b) for b in data)
        n_frames = len(samples) // n_channels
        return {
            "fmt": "wav-mulaw",
            "sample_rate": sample_rate,
            "n_channels": n_channels,
            "n_samples": n_frames,
            "duration_ms": n_frames * 1000 // sample_rate,
            "sample_sum": sum(samples),
            "peak": max((abs(s) for s in samples), default=0),
        }
    if audio_fmt != 1 or bits != 16:
        raise AudioFormatError(
            f"unsupported WAV variant (fmt={audio_fmt} bits={bits})"
        )
    if len(data) % (2 * n_channels):
        raise AudioFormatError("truncated sample data")
    samples = struct.unpack(f"<{len(data) // 2}h", data)
    n_frames = len(samples) // n_channels
    return {
        "fmt": "wav",
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "n_samples": n_frames,
        "duration_ms": n_frames * 1000 // sample_rate,
        "sample_sum": sum(samples),
        "peak": max((abs(s) for s in samples), default=0),
    }


def decode_audio_batches(df: DataFrame) -> DataFrame:
    """mapInPandas over REAL WAV containers: header walk + full sample
    traversal, emitting rate/duration and exact sample statistics. Same
    partition-local zero-shuffle shape as decode_image_batches."""
    return map_rows(df, "payload", decode_audio, AUDIO_SCHEMA)


# ---------------------------------------------------------------------------
# Video: real dependency-free AVI (RIFF) container with uncompressed DIB
# frames — completes the image/audio/video triad of genuinely parsed
# containers. Compressed streams (MJPEG, H.264) plug into the same seam.

VIDEO_SCHEMA = (
    "doc_id long, fmt string, width int, height int, n_frames int, "
    "us_per_frame int, frame_bytes long, frame_sum long"
)


class VideoFormatError(ValueError):
    """Raised when a payload claims a video container it doesn't parse as."""


def encode_avi(
    frames: list[bytes],
    width: int,
    height: int,
    us_per_frame: int,
    codec: bytes = b"DIB ",
) -> bytes:
    """Write a real minimal AVI: RIFF('AVI ') → LIST(hdrl: avih +
    LIST(strl: strh + strf)) → LIST(movi: one frame chunk per frame).
    Header fields (dwMicroSecPerFrame, frame count, dimensions,
    suggested buffer size) are filled truthfully. ``codec=b"MJPG"``
    writes a Motion-JPEG stream: fourcc in strh, biCompression in
    strf, and '00dc' (compressed) frame chunks instead of '00db'."""

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (
            struct.pack("<4sI", cid, len(body))
            + body
            + (b"\x00" if len(body) & 1 else b"")
        )

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    frame_size = max((len(f) for f in frames), default=0)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        us_per_frame, frame_size, 0, 0, len(frames), 0, 1, frame_size,
        width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", codec, 0, 0, 0, 0, 1, 1_000_000 // us_per_frame,
        0, len(frames), frame_size, 0, 0, 0, 0, int(width), int(height),
    )
    bi_compression = (
        0 if codec == b"DIB " else int.from_bytes(codec, "little")
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 24, bi_compression, frame_size,
        2835, 2835, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    fid = b"00db" if codec == b"DIB " else b"00dc"
    movi = lst(b"movi", b"".join(chunk(fid, f) for f in frames))
    body = b"AVI " + hdrl + movi
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def _avi_chunks(payload: bytes) -> tuple[tuple, list[bytes]]:
    """Shared AVI chunk walk: validate RIFF/'AVI ' magic, recurse the
    LIST tree, return (avih fields, raw frame chunk bodies) with the
    declared-vs-found frame count cross-checked."""
    if (
        len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"AVI "
    ):
        raise VideoFormatError("not a RIFF/AVI payload")
    avih = None
    frames: list[bytes] = []

    def walk(buf: bytes) -> None:
        nonlocal avih
        pos = 0
        while pos + 8 <= len(buf):
            cid, size = struct.unpack_from("<4sI", buf, pos)
            body = buf[pos + 8 : pos + 8 + size]
            if cid == b"LIST":
                walk(body[4:])  # skip the list-kind fourcc
            elif cid == b"avih":
                if size < 56:
                    raise VideoFormatError("short avih chunk")
                avih = struct.unpack_from("<IIIIIIIIII", body, 0)
            elif cid[2:] in (b"db", b"dc"):
                frames.append(body)
            pos += 8 + size + (size & 1)

    walk(payload[12:])
    if avih is None:
        raise VideoFormatError("missing avih header")
    if avih[4] != len(frames):
        raise VideoFormatError(
            f"header declares {avih[4]} frames, found {len(frames)}"
        )
    return avih, frames


def avi_frames(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Frame-level access to an AVI: (width, height, raw frame bodies)
    — the seam frame-sampling / frame-dedup pipelines consume."""
    avih, frames = _avi_chunks(payload)
    return avih[8], avih[9], frames


def parse_avi(payload: bytes) -> dict:
    """Parse a DIB-frame AVI: validate RIFF/'AVI ' magic, walk the
    top-level chunk list, read avih out of the hdrl LIST, and traverse
    every '00db'/'00dc' frame chunk inside the movi LIST. Returns header
    metadata plus exact frame-byte statistics proving real frame access."""
    avih, frames = _avi_chunks(payload)
    us_per_frame, _max_rate, _pad, _flags, n_frames = avih[:5]
    width, height = avih[8], avih[9]
    if frames and frames[0][:2] == b"\xff\xd8":
        # Motion-JPEG stream: every frame is a complete baseline JPEG —
        # decode each through the real JPEG pipeline; frame_sum is the
        # sum of DECODED pixel sums (not compressed bytes).
        from nibbler_spark.operators.jpeg_codec import decode_jpeg_gray

        decoded = [decode_jpeg_gray(f) for f in frames]
        for d in decoded:
            if (d["width"], d["height"]) != (width, height):
                raise VideoFormatError("MJPEG frame dims disagree with avih")
        return {
            "fmt": "avi-mjpeg",
            "width": width,
            "height": height,
            "n_frames": len(frames),
            "us_per_frame": us_per_frame,
            "frame_bytes": sum(len(f) for f in frames),
            "frame_sum": sum(d["pixel_sum"] for d in decoded),
        }
    return {
        "fmt": "avi",
        "width": width,
        "height": height,
        "n_frames": len(frames),
        "us_per_frame": us_per_frame,
        "frame_bytes": sum(len(f) for f in frames),
        "frame_sum": sum(sum(f) for f in frames),
    }


def decode_video_batches(df: DataFrame) -> DataFrame:
    """mapInPandas over REAL AVI containers — partition-local, zero
    shuffles, the video leg of the decode triad."""
    return map_rows(df, "payload", parse_avi, VIDEO_SCHEMA)


# --- TIFF (Compression=5, the TIFF flavour of LZW) ----------------------
#
# A fourth from-scratch compressed image codec, genuinely distinct from
# the GIF LZW above: TIFF packs codes MSB-FIRST, always starts at 9 bits
# with a 256-symbol alphabet (Clear=256, EOI=257), and uses EARLY CHANGE
# — the code width bumps when the next free code reaches 2^width − 1,
# one code EARLIER than GIF's LSB-first variant (TIFF 6.0 §13). Writer
# and reader implement the spec symmetrically, with a table reset at
# code 4094 as the spec requires.

_TIFF_CLEAR, _TIFF_EOI = 256, 257


class _MsbBitWriter:
    def __init__(self) -> None:
        self.acc = 0
        self.nbits = 0
        self.out = bytearray()

    def write(self, code: int, width: int) -> None:
        self.acc = (self.acc << width) | code
        self.nbits += width
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append((self.acc << (8 - self.nbits)) & 0xFF)
        return bytes(self.out)


def _lzw_encode_tiff(data: bytes) -> bytes:
    bw = _MsbBitWriter()

    def fresh():
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, next_code, width = fresh()
    bw.write(_TIFF_CLEAR, width)
    w = b""
    for byte in data:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        bw.write(table[w], width)
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1  # early change
        if next_code >= 4094:
            bw.write(_TIFF_CLEAR, width)
            table, next_code, width = fresh()
        w = bytes([byte])
    if w:
        bw.write(table[w], width)
    bw.write(_TIFF_EOI, width)
    return bw.finish()


def _lzw_decode_tiff(buf: bytes, n_expected: int) -> bytes:
    pos_bits = 0
    total_bits = len(buf) * 8

    def read(width: int) -> int:
        nonlocal pos_bits
        if pos_bits + width > total_bits:
            raise ImageFormatError("truncated TIFF LZW stream")
        byte_pos = pos_bits // 8
        chunk = buf[byte_pos : byte_pos + 4]
        acc = int.from_bytes(chunk, "big")
        shift = len(chunk) * 8 - (pos_bits % 8) - width
        pos_bits += width
        return (acc >> shift) & ((1 << width) - 1)

    out = bytearray()
    table: list[bytes] = []
    width = 9
    next_code = 258
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == _TIFF_CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            next_code = 258
            prev = None
            continue
        if code == _TIFF_EOI:
            break
        if prev is None or code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ImageFormatError("corrupt TIFF LZW code stream")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            next_code += 1
            # the decoder's table lags the encoder's by exactly one
            # entry at the same stream position, so its early-change
            # threshold is one lower (same offset as the GIF pair)
            if next_code == (1 << width) - 2 and width < 12:
                width += 1
        prev = entry
        if len(out) > n_expected:
            raise ImageFormatError("TIFF LZW output exceeds pixel count")
    return bytes(out)


def encode_tiff_lzw(
    width: int, height: int, pixel: Callable[[int, int], int]
) -> bytes:
    """A real little-endian TIFF 6.0: 8-bit grayscale, one strip,
    Compression=5 (LZW). Layout: 8-byte header, the compressed strip,
    then the IFD (9 entries) — StripOffsets/ByteCounts point back at
    the strip."""
    raster = bytes(
        pixel(x, y) & 0xFF for y in range(height) for x in range(width)
    )
    strip = _lzw_encode_tiff(raster)
    ifd_off = 8 + len(strip)
    entries = [
        (256, 3, 1, width),       # ImageWidth
        (257, 3, 1, height),      # ImageLength
        (258, 3, 1, 8),           # BitsPerSample
        (259, 3, 1, 5),           # Compression = LZW
        (262, 3, 1, 1),           # Photometric = BlackIsZero
        (273, 4, 1, 8),           # StripOffsets → right after header
        (277, 3, 1, 1),           # SamplesPerPixel
        (278, 3, 1, height),      # RowsPerStrip
        (279, 4, 1, len(strip)),  # StripByteCounts
    ]
    out = bytearray()
    out += b"II" + struct.pack("<HI", 42, ifd_off)
    out += strip
    out += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        out += struct.pack("<HHII", tag, typ, cnt, val)
    out += struct.pack("<I", 0)  # no next IFD
    return bytes(out)


def parse_tiff(payload: bytes) -> dict:
    """Parse a little-endian TIFF: walk the IFD, require the 8-bit
    grayscale single-strip LZW shape this codec writes, decompress the
    strip, and sum the decoded pixels."""
    if payload[:4] != b"II\x2a\x00":
        raise ImageFormatError("not a little-endian TIFF payload")
    (ifd_off,) = struct.unpack_from("<I", payload, 4)
    (n_entries,) = struct.unpack_from("<H", payload, ifd_off)
    tags: dict[int, int] = {}
    for i in range(n_entries):
        tag, _typ, _cnt, val = struct.unpack_from(
            "<HHII", payload, ifd_off + 2 + 12 * i
        )
        tags[tag] = val
    if tags.get(259) != 5:
        raise ImageFormatError("TIFF compression is not LZW")
    if tags.get(258, 8) != 8 or tags.get(277, 1) != 1:
        raise ImageFormatError("only 8-bit grayscale TIFF supported")
    w, h = tags[256], tags[257]
    off, cnt = tags[273], tags[279]
    raster = _lzw_decode_tiff(payload[off : off + cnt], w * h)
    if len(raster) != w * h:
        raise ImageFormatError(
            f"TIFF strip decoded {len(raster)} of {w * h} pixels"
        )
    return {
        "fmt": "tiff",
        "width": w,
        "height": h,
        "n_pixels": w * h,
        "pixel_sum": sum(raster),
    }


# --- IMA ADPCM (WAV format tag 0x11) ------------------------------------
#
# Second compressed audio codec, genuinely adaptive unlike stateless
# G.711: 4-bit codes whose quantization step WALKS an 89-entry table
# driven by the code stream itself (IMA ADPCM reference algorithm).
# 4:1 compression vs 16-bit PCM. Encoder and decoder share the exact
# reconstruction arithmetic, so the decoder's predictor replays the
# encoder's — the property the error-bound query leans on.

_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)


def _ima_step(code: int, predictor: int, index: int) -> tuple[int, int]:
    """Shared reconstruction: apply one 4-bit code to (predictor,
    index)."""
    step = _IMA_STEPS[index]
    vpdiff = step >> 3
    if code & 4:
        vpdiff += step
    if code & 2:
        vpdiff += step >> 1
    if code & 1:
        vpdiff += step >> 2
    predictor += -vpdiff if code & 8 else vpdiff
    predictor = max(-32768, min(32767, predictor))
    index = max(0, min(88, index + _IMA_INDEX[code & 7]))
    return predictor, index


def adpcm_encode(samples: list[int]) -> bytes:
    """Encode int16 samples: 4-byte block header (initial predictor +
    step index) then one 4-bit code per remaining sample, low nibble
    first (the WAV IMA convention)."""
    if not samples:
        raise AudioFormatError("empty sample stream")
    predictor = samples[0]
    index = 0
    out = bytearray(struct.pack("<hBB", predictor, index, 0))
    nibbles: list[int] = []
    for s in samples[1:]:
        diff = s - predictor
        code = 8 if diff < 0 else 0
        d = -diff if diff < 0 else diff
        step = _IMA_STEPS[index]
        if d >= step:
            code |= 4
            d -= step
        if d >= step >> 1:
            code |= 2
            d -= step >> 1
        if d >= step >> 2:
            code |= 1
        predictor, index = _ima_step(code, predictor, index)
        nibbles.append(code)
    for i in range(0, len(nibbles), 2):
        lo = nibbles[i]
        hi = nibbles[i + 1] if i + 1 < len(nibbles) else 0
        out.append(lo | (hi << 4))
    return bytes(out)


def adpcm_decode(block: bytes, n_samples: int) -> list[int]:
    """Inverse of :func:`adpcm_encode`."""
    if len(block) < 4:
        raise AudioFormatError("short ADPCM block")
    predictor, index, _ = struct.unpack_from("<hBB", block, 0)
    out = [predictor]
    need = n_samples - 1
    for byte in block[4:]:
        for code in (byte & 0xF, byte >> 4):
            if len(out) - 1 >= need:
                break
            predictor, index = _ima_step(code, predictor, index)
            out.append(predictor)
    if len(out) != n_samples:
        raise AudioFormatError(
            f"ADPCM decoded {len(out)} of {n_samples} samples"
        )
    return out


def encode_wav_adpcm(samples: list[int], sample_rate: int = 8000) -> bytes:
    """A real single-block IMA-ADPCM WAV: fmt tag 0x11, 4 bits/sample,
    a fact chunk carrying the true frame count (required for
    compressed WAV), then the data block."""
    block = adpcm_encode(samples)
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11, 1, sample_rate, (sample_rate * 4) // 8 + 4,
        len(block), 4, 2, len(samples),
    )
    fact = struct.pack("<I", len(samples))
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(block)) + block
        + (b"\x00" if len(block) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_qoi(
    width: int, height: int, pixel: Callable[[int, int], tuple[int, int, int]]
) -> bytes:
    """From-scratch QOI encoder (qoiformat.org spec, public domain):
    14-byte header, then the five op chunks — RUN (pixel repeats),
    INDEX (64-slot seen-pixel hash array), DIFF (2-bit channel deltas),
    LUMA (6-bit green delta + 4-bit red/blue deltas relative to it),
    and the literal RGB op — closed by the 7x00+01 end marker. Priority
    order matches the reference encoder: run, index, diff, luma, rgb;
    every emitted pixel is inserted into the index array."""
    out = bytearray(b"qoif")
    out += width.to_bytes(4, "big") + height.to_bytes(4, "big")
    out += bytes([3, 0])  # RGB channels, sRGB colorspace
    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    run = 0
    for y in range(height):
        for x in range(width):
            r, g, b = pixel(x, y)
            px = (r & 255, g & 255, b & 255, 255)
            if px == prev:
                # reference encoder indexes run pixels too (usually a
                # no-op, but the very first pixels may equal the
                # implicit (0,0,0,255) start pixel that was never
                # emitted — decoders must agree on the slot)
                index[(px[0] * 3 + px[1] * 5 + px[2] * 7 + px[3] * 11) % 64] = px
                run += 1
                if run == 62:
                    out.append(0b11000000 | (run - 1))
                    run = 0
                continue
            if run:
                out.append(0b11000000 | (run - 1))
                run = 0
            h = (px[0] * 3 + px[1] * 5 + px[2] * 7 + px[3] * 11) % 64
            if index[h] == px:
                out.append(h)
            else:
                index[h] = px
                dr = (px[0] - prev[0]) & 255
                dg = (px[1] - prev[1]) & 255
                db = (px[2] - prev[2]) & 255
                # interpret as signed wraparound deltas
                sdr = dr - 256 if dr > 127 else dr
                sdg = dg - 256 if dg > 127 else dg
                sdb = db - 256 if db > 127 else db
                if -2 <= sdr <= 1 and -2 <= sdg <= 1 and -2 <= sdb <= 1:
                    out.append(
                        0b01000000
                        | ((sdr + 2) << 4)
                        | ((sdg + 2) << 2)
                        | (sdb + 2)
                    )
                elif (
                    -32 <= sdg <= 31
                    and -8 <= sdr - sdg <= 7
                    and -8 <= sdb - sdg <= 7
                ):
                    out.append(0b10000000 | (sdg + 32))
                    out.append(((sdr - sdg + 8) << 4) | (sdb - sdg + 8))
                else:
                    out += bytes([0xFE, px[0], px[1], px[2]])
            prev = px
    if run:
        out.append(0b11000000 | (run - 1))
    out += b"\x00" * 7 + b"\x01"
    return bytes(out)


def parse_qoi(payload: bytes) -> dict:
    """QOI decoder mirroring :func:`encode_qoi` (full spec: all five
    ops plus RGBA literals), returning the standard image-stat dict.
    pixel_sum covers RGB only (alpha excluded) to match the other
    image parsers."""
    if payload[:4] != b"qoif":
        raise ImageFormatError("bad QOI magic")
    width = int.from_bytes(payload[4:8], "big")
    height = int.from_bytes(payload[8:12], "big")
    channels, _cs = payload[12], payload[13]
    if channels not in (3, 4):
        raise ImageFormatError("bad QOI channels")
    pos = 14
    index = [(0, 0, 0, 0)] * 64
    px = (0, 0, 0, 255)
    n_expected = width * height
    n = 0
    pixel_sum = 0
    while n < n_expected:
        b0 = payload[pos]
        pos += 1
        if b0 == 0xFE:  # RGB
            px = (payload[pos], payload[pos + 1], payload[pos + 2], px[3])
            pos += 3
        elif b0 == 0xFF:  # RGBA
            px = tuple(payload[pos : pos + 4])
            pos += 4
        elif b0 >> 6 == 0b00:  # INDEX
            px = index[b0 & 0x3F]
        elif b0 >> 6 == 0b01:  # DIFF
            px = (
                (px[0] + ((b0 >> 4) & 3) - 2) & 255,
                (px[1] + ((b0 >> 2) & 3) - 2) & 255,
                (px[2] + (b0 & 3) - 2) & 255,
                px[3],
            )
        elif b0 >> 6 == 0b10:  # LUMA
            dg = (b0 & 0x3F) - 32
            b1 = payload[pos]
            pos += 1
            px = (
                (px[0] + dg + ((b1 >> 4) & 0xF) - 8) & 255,
                (px[1] + dg) & 255,
                (px[2] + dg + (b1 & 0xF) - 8) & 255,
                px[3],
            )
        else:  # RUN
            run = (b0 & 0x3F) + 1
            index[(px[0] * 3 + px[1] * 5 + px[2] * 7 + px[3] * 11) % 64] = px
            pixel_sum += (px[0] + px[1] + px[2]) * run
            n += run
            continue
        index[(px[0] * 3 + px[1] * 5 + px[2] * 7 + px[3] * 11) % 64] = px
        pixel_sum += px[0] + px[1] + px[2]
        n += 1
    if n != n_expected:
        raise ImageFormatError("QOI pixel count overrun")
    if payload[pos : pos + 8] != b"\x00" * 7 + b"\x01":
        raise ImageFormatError("missing QOI end marker")
    return {
        "fmt": "qoi",
        "width": width,
        "height": height,
        "n_pixels": n_expected,
        "pixel_sum": pixel_sum,
    }


def encode_warc(records: list[tuple[str, str]]) -> bytes:
    """Minimal ISO 28500 WARC/1.0 writer: each (target_uri, http_body)
    becomes a ``response`` record with correct Content-Length framing
    (the property every WARC reader depends on — bodies are opaque
    bytes located purely by length, never by delimiters)."""
    out = bytearray()
    for i, (uri, body) in enumerate(records):
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
            + body.encode("utf-8")
        )
        headers = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Record-ID: <urn:uuid:{i:08d}>\r\n".encode()
            + f"WARC-Target-URI: {uri}\r\n".encode()
            + b"Content-Type: application/http; msgtype=response\r\n"
            + f"Content-Length: {len(payload)}\r\n".encode()
            + b"\r\n"
        )
        out += headers + payload + b"\r\n\r\n"
    return bytes(out)


def parse_warc(payload: bytes) -> list[dict]:
    """WARC/1.0 reader mirroring :func:`encode_warc`: walks records by
    Content-Length framing, parses the WARC header block and the
    embedded HTTP response, and returns per-record dicts (uri, http
    status, body text). Raises on bad magic or broken framing — a
    truncated WARC must fail loudly, not yield half a corpus."""
    pos = 0
    records = []
    while pos < len(payload):
        if payload[pos : pos + 9] != b"WARC/1.0\r":
            raise ValueError(f"bad WARC magic at offset {pos}")
        hdr_end = payload.index(b"\r\n\r\n", pos)
        headers = {}
        for line in payload[pos:hdr_end].decode("utf-8").split("\r\n")[1:]:
            k, _, v = line.partition(": ")
            headers[k] = v
        length = int(headers["Content-Length"])
        body_start = hdr_end + 4
        body = payload[body_start : body_start + length]
        if payload[body_start + length : body_start + length + 4] != b"\r\n\r\n":
            raise ValueError("broken WARC record framing")
        http_hdr_end = body.index(b"\r\n\r\n")
        status = int(body.split(b"\r\n", 1)[0].split(b" ")[1])
        records.append(
            {
                "uri": headers.get("WARC-Target-URI", ""),
                "warc_type": headers.get("WARC-Type", ""),
                "http_status": status,
                "text": body[http_hdr_end + 4 :].decode("utf-8"),
            }
        )
        pos = body_start + length + 4
    return records


# ---------------------------------------------------------------------------
# TGA (Truevision TARGA, type 10: run-length-encoded 24-bit truecolor) —
# the eighth real image codec. TGA has no leading magic; real files are
# identified by the TGA 2.0 footer signature, which is what the encoder
# writes and the dispatcher keys on.

_TGA_FOOTER = b"\x00" * 8 + b"TRUEVISION-XFILE.\x00"


def encode_tga(
    width: int, height: int, pixel: Callable[[int, int], tuple[int, int, int]]
) -> bytes:
    """Write a real TGA 2.0 type-10 file (RLE-compressed 24-bit
    truecolor, bottom-left origin, spec-conformant footer). RLE packets
    never cross scanlines (per the spec's interchange advice): within a
    row, runs of identical BGR pixels >= 2 become RLE packets (high-bit
    count byte, one pixel), everything else accumulates into raw
    packets; both packet kinds carry at most 128 pixels.
    ``pixel(x, y)`` returns (b, g, r) for TOP-DOWN logical (x, y)."""
    hdr = struct.pack(
        "<BBB HHB HHHH BB",
        0, 0, 10,          # no id field, no color map, type 10 (RLE RGB)
        0, 0, 0,           # color-map spec (unused)
        0, 0,              # x/y origin
        width, height,
        24, 0,             # 24 bpp, descriptor: bottom-left origin
    )
    out = bytearray(hdr)
    for y in range(height - 1, -1, -1):  # bottom-up row order
        row = [bytes(pixel(x, y)) for x in range(width)]
        x = 0
        while x < width:
            # measure the run at x
            run = 1
            while (
                x + run < width and run < 128 and row[x + run] == row[x]
            ):
                run += 1
            if run >= 2:
                out.append(0x80 | (run - 1))
                out += row[x]
                x += run
            else:
                # raw packet: collect until the next run of >= 2 starts
                start = x
                x += 1
                while x < width and x - start < 128:
                    if (
                        x + 1 < width
                        and row[x + 1] == row[x]
                    ):
                        break
                    x += 1
                out.append((x - start) - 1)
                out += b"".join(row[start:x])
    out += _TGA_FOOTER
    return bytes(out)


def parse_tga(payload: bytes) -> dict:
    """Parse an RLE 24-bit TGA: header fields, full RLE packet walk
    (runs + raw packets, per-pixel traversal), bottom-up normalization,
    footer check. Returns width/height plus exact pixel statistics
    proving real pixel access; packet underflow/overflow raises."""
    if len(payload) < 18 + len(_TGA_FOOTER) or not payload.endswith(
        _TGA_FOOTER
    ):
        raise ImageFormatError("not a TGA 2.0 payload (footer missing)")
    (
        id_len, cmap_type, img_type,
        _cm_first, _cm_len, _cm_bits,
        _xo, _yo, width, height, bpp, desc,
    ) = struct.unpack_from("<BBB HHB HHHH BB", payload, 0)
    if cmap_type != 0 or img_type != 10 or bpp != 24:
        raise ImageFormatError(
            f"unsupported TGA variant (type={img_type} bpp={bpp})"
        )
    top_down = bool(desc & 0x20)
    pos = 18 + id_len
    end = len(payload) - len(_TGA_FOOTER)
    n_expected = width * height
    total = 0
    n = 0
    while n < n_expected:
        if pos >= end:
            raise ImageFormatError("truncated TGA packet stream")
        ctrl = payload[pos]
        pos += 1
        count = (ctrl & 0x7F) + 1
        if ctrl & 0x80:
            if pos + 3 > end:
                raise ImageFormatError("truncated TGA RLE pixel")
            total += sum(payload[pos : pos + 3]) * count
            pos += 3
        else:
            if pos + 3 * count > end:
                raise ImageFormatError("truncated TGA raw packet")
            total += sum(payload[pos : pos + 3 * count])
            pos += 3 * count
        n += count
    if n != n_expected:
        raise ImageFormatError(
            f"TGA packet overflow: {n} pixels decoded, {n_expected} declared"
        )
    return {
        "fmt": "tga",
        "width": width,
        "height": height,
        "bottom_up": not top_down,
        "n_pixels": n_expected,
        "pixel_sum": total,
    }


# ---------------------------------------------------------------------------
# AIFF (Apple/EA IFF-85 audio) — the big-endian sibling of WAV, with the
# sample rate carried as an 80-bit IEEE 754 extended-precision float in
# the COMM chunk (the format's famous quirk; encoded from scratch here).


def _f80_encode(v: int) -> bytes:
    """Encode a positive integer as 80-bit IEEE extended (sign+15-bit
    biased exponent, explicit-leading-1 64-bit mantissa)."""
    if v <= 0:
        raise AudioFormatError("extended-float encode expects positive")
    e = v.bit_length() - 1
    mant = v << (63 - e)  # normalize: top bit = explicit integer bit
    return struct.pack(">HQ", 16383 + e, mant)


def _f80_decode(b: bytes) -> int:
    """Decode an 80-bit extended float to the nearest integer."""
    exp, mant = struct.unpack(">HQ", b)
    if exp == 0 and mant == 0:
        return 0
    if exp & 0x8000:
        raise AudioFormatError("negative sample rate")
    e = exp - 16383
    if e < 0 or e > 62:
        raise AudioFormatError(f"sample-rate exponent out of range ({e})")
    return mant >> (63 - e)


def encode_aiff(
    n_samples: int, sample_rate: int, sample: Callable[[int], int]
) -> bytes:
    """Write a real mono 16-bit AIFF: FORM/AIFF container, COMM chunk
    (channels, frame count, bit depth, 80-bit extended sample rate),
    SSND chunk of BIG-endian int16 samples. ``sample(i)`` must return
    values in [-32768, 32767]."""
    data = struct.pack(
        f">{n_samples}h", *(sample(i) for i in range(n_samples))
    )
    comm = struct.pack(">hIh", 1, n_samples, 16) + _f80_encode(sample_rate)
    ssnd = struct.pack(">II", 0, 0) + data
    body = (
        b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    )
    return b"FORM" + struct.pack(">I", len(body)) + body


def parse_aiff(payload: bytes) -> dict:
    """Parse an AIFF: FORM/AIFF magic, chunk walk (word-aligned, like
    RIFF but big-endian), COMM with the 80-bit extended sample rate
    decoded by hand, SSND offset/blocksize header, full big-endian
    sample traversal. Same output contract as :func:`parse_wav`."""
    if len(payload) < 12 or payload[:4] != b"FORM" or payload[8:12] != b"AIFF":
        raise AudioFormatError("not a FORM/AIFF payload")
    pos, comm, ssnd = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from(">4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"COMM":
            if size < 18 or len(body) < 18:
                raise AudioFormatError("short or truncated COMM chunk")
            n_channels, n_frames, bits = struct.unpack_from(">hIh", body, 0)
            rate = _f80_decode(body[8:18])
            comm = (n_channels, n_frames, bits, rate)
        elif cid == b"SSND":
            if len(body) < 8:
                raise AudioFormatError("truncated SSND header")
            offset, _blk = struct.unpack_from(">II", body, 0)
            ssnd = body[8 + offset :]
        pos += 8 + size + (size & 1)
    if comm is None or ssnd is None:
        raise AudioFormatError("missing COMM or SSND chunk")
    n_channels, n_frames, bits, rate = comm
    if bits != 16:
        raise AudioFormatError(f"unsupported AIFF bit depth ({bits})")
    want = n_frames * n_channels
    if len(ssnd) < 2 * want:
        raise AudioFormatError("truncated SSND sample data")
    samples = struct.unpack(f">{want}h", ssnd[: 2 * want])
    return {
        "fmt": "aiff",
        "sample_rate": rate,
        "n_channels": n_channels,
        "n_samples": n_frames,
        "duration_ms": n_frames * 1000 // rate,
        "sample_sum": sum(samples),
        "peak": max((abs(s) for s in samples), default=0),
    }


def decode_audio(payload: bytes) -> dict:
    """Dispatch on container magic to a real audio parser."""
    if payload[:4] == b"RIFF":
        return parse_wav(payload)
    if payload[:4] == b"FORM":
        return parse_aiff(payload)
    if payload[:4] == b"fLaC":
        return parse_flac(payload)
    raise AudioFormatError("unknown audio container format")


# --- MP4 / ISOBMFF: box-tree container with real sample tables ------------


class Mp4FormatError(ValueError):
    pass


def encode_mp4(frames: list[bytes], timescale: int = 30) -> bytes:
    """Minimal structurally-correct ISOBMFF file: ftyp, mdat carrying
    the raw frame bytes, and a moov box tree whose stbl sample tables
    (stsd/stts/stsz/stco) truthfully describe them — the part real
    players actually navigate by. Chunk offsets in stco are ABSOLUTE
    file offsets, so the layout pass runs before moov is emitted."""

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isomiso2")
    mdat_payload = b"".join(frames)
    mdat = box(b"mdat", mdat_payload)
    first_sample_off = len(ftyp) + 8  # mdat header precedes samples

    n = len(frames)
    stsd = box(
        b"stsd",
        struct.pack(">II", 0, 1)
        + box(b"raw ", struct.pack(">6xH", 1) + b"\x00" * 8),
    )
    stts = box(b"stts", struct.pack(">IIII", 0, 1, n, 1))
    stsz = box(
        b"stsz",
        struct.pack(">III", 0, 0, n)
        + b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    # one chunk per sample: stsc maps every chunk to 1 sample
    stsc = box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, 1, 1))
    offs, pos = [], first_sample_off
    for f in frames:
        offs.append(pos)
        pos += len(f)
    stco = box(
        b"stco",
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", o) for o in offs),
    )
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", stbl)
    mdhd = box(
        b"mdhd", struct.pack(">IIIIIHH", 0, 0, 0, timescale, n, 0x55C4, 0)
    )
    hdlr = box(b"hdlr", struct.pack(">II4s8x", 0, 0, b"vide") + b"\x00")
    mdia = box(b"mdia", mdhd + hdlr + minf)
    tkhd = box(b"tkhd", struct.pack(">I", 7) + b"\x00" * 80)
    trak = box(b"trak", tkhd + mdia)
    mvhd = box(b"mvhd", struct.pack(">IIIII", 0, 0, 0, timescale, n) + b"\x00" * 80)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def parse_mp4(payload: bytes) -> dict:
    """Walk the ISOBMFF box tree (size/type headers, container
    recursion), locate the sample tables, and extract every sample's
    bytes through stco + stsz ABSOLUTE offsets — cross-checking the
    stts sample count. Returns frame stats proving real sample
    access."""
    CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}
    tables: dict[bytes, bytes] = {}

    def walk(buf: bytes, base: int, end: int) -> None:
        pos = base
        while pos + 8 <= end:
            (size,) = struct.unpack_from(">I", buf, pos)
            typ = buf[pos + 4 : pos + 8]
            if size < 8 or pos + size > end:
                raise Mp4FormatError(f"bad box size {size} at {pos}")
            if typ in CONTAINERS:
                walk(buf, pos + 8, pos + size)
            elif typ in (b"stsz", b"stco", b"stts"):
                tables[typ] = buf[pos + 8 : pos + size]
            pos += size

    walk(payload, 0, len(payload))
    for need in (b"stsz", b"stco", b"stts"):
        if need not in tables:
            raise Mp4FormatError(f"missing {need.decode()} table")
    stsz = tables[b"stsz"]
    _, fixed, n = struct.unpack_from(">III", stsz, 0)
    sizes = (
        [fixed] * n
        if fixed
        else list(struct.unpack_from(f">{n}I", stsz, 12))
    )
    stco = tables[b"stco"]
    (_, n_chunks) = struct.unpack_from(">II", stco, 0)
    offs = list(struct.unpack_from(f">{n_chunks}I", stco, 8))
    if n_chunks != n:
        raise Mp4FormatError("chunk/sample count mismatch (need stsc)")
    _, n_ent, cnt, _delta = struct.unpack_from(">IIII", tables[b"stts"], 0)
    if n_ent != 1 or cnt != n:
        raise Mp4FormatError("stts disagrees with sample count")
    total = 0
    ssum = 0
    for off, sz in zip(offs, sizes):
        chunk = payload[off : off + sz]
        if len(chunk) != sz:
            raise Mp4FormatError("sample extends past file end")
        total += sz
        ssum += sum(chunk)
    return {
        "fmt": "mp4",
        "n_frames": n,
        "frame_bytes": total,
        "frame_sum": ssum,
    }


# --- FLAC (fixed-predictor subset) — from the public spec (RFC 9639) ------
#
# Real frame/subframe bitstream: fLaC magic + STREAMINFO metadata block,
# frames with the 14-bit sync code, UTF-8-style coded frame numbers,
# CRC-8-protected headers and CRC-16-protected frames; subframes CONSTANT /
# VERBATIM / FIXED(0..4) with Rice-coded residuals (4-bit parameters,
# any partition order, raw-bits escape), and the STREAMINFO MD5 of the
# unencoded samples verified on decode. The encoder emits mono 16-bit with
# per-block predictor-order and per-partition Rice-parameter selection the
# way real encoders do; the decoder accepts the full fixed-predictor
# subset (all five orders, any partition order, escapes, multi-frame
# streams, final short frame). LPC subframes are out of scope and raise.


_FLAC_CRC8_POLY = 0x07
_FLAC_CRC16_POLY = 0x8005


def _flac_crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ _FLAC_CRC8_POLY) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _flac_crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ _FLAC_CRC16_POLY) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


def _flac_utf8_encode(n: int) -> bytes:
    """The frame-number coding: standard UTF-8 byte patterns extended to
    carry arbitrary 31-bit integers (RFC 9639 §9.1.5)."""
    if n < 0x80:
        return bytes([n])
    for nbytes, cap in ((2, 11), (3, 16), (4, 21), (5, 26), (6, 31)):
        if n < (1 << cap):
            lead = (0xFF << (8 - nbytes)) & 0xFF
            out = [0] * nbytes
            for k in range(nbytes - 1, 0, -1):
                out[k] = 0x80 | (n & 0x3F)
                n >>= 6
            out[0] = lead | n
            return bytes(out)
    raise AudioFormatError("frame number too large")


class _FlacBitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.bytepos = pos
        self.bitpos = 0

    def read(self, width: int) -> int:
        v = 0
        for _ in range(width):
            if self.bytepos >= len(self.data):
                raise AudioFormatError("truncated FLAC bitstream")
            bit = (self.data[self.bytepos] >> (7 - self.bitpos)) & 1
            v = (v << 1) | bit
            self.bitpos += 1
            if self.bitpos == 8:
                self.bitpos = 0
                self.bytepos += 1
        return v

    def read_unary(self) -> int:
        n = 0
        while self.read(1) == 0:
            n += 1
        return n

    def align(self) -> None:
        if self.bitpos:
            self.bitpos = 0
            self.bytepos += 1


def _flac_utf8_decode(br: _FlacBitReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 6:
        raise AudioFormatError("bad coded frame number")
    v = b0 & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        b = br.read(8)
        if b & 0xC0 != 0x80:
            raise AudioFormatError("bad coded frame number continuation")
        v = (v << 6) | (b & 0x3F)
    return v


_FLAC_FIXED_COEFFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _flac_zigzag(r: int) -> int:
    return (r << 1) if r >= 0 else (-(r << 1) - 1)


def _flac_unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _flac_residuals(samples: list[int], order: int) -> list[int]:
    coeffs = _FLAC_FIXED_COEFFS[order]
    return [
        samples[i] - sum(c * samples[i - 1 - k] for k, c in enumerate(coeffs))
        for i in range(order, len(samples))
    ]


def _flac_rice_cost(res: list[int], k: int) -> int:
    return sum((_flac_zigzag(r) >> k) + 1 + k for r in res)


def _flac_best_k(res: list[int]) -> tuple[int, int]:
    """(k, cost_bits); k = 15 means the raw-bits escape."""
    best_k, best_cost = 0, _flac_rice_cost(res, 0)
    for k in range(1, 15):
        c = _flac_rice_cost(res, k)
        if c < best_cost:
            best_k, best_cost = k, c
    if res:
        width = max(_flac_zigzag(r).bit_length() + 1 for r in res)
        raw_cost = 5 + width * len(res)
        if raw_cost < best_cost:
            return 15, raw_cost
    return best_k, best_cost


def encode_flac(
    n_samples: int,
    sample_rate: int,
    sample: Callable[[int], int],
    block_size: int = 256,
    partition_order: int = 0,
) -> bytes:
    """Encode a real mono 16-bit FLAC stream: STREAMINFO with the true
    sample MD5, then frames of ``block_size`` samples (final frame
    short, signalled through the 16-bit end-of-header block-size code)
    each carrying one subframe — CONSTANT when the block is flat, else
    the best of FIXED orders 0..2 by residual cost, Rice parameters
    chosen per partition (2^partition_order partitions per frame when
    the frame divides evenly, else order 0 for that frame)."""
    import hashlib
    import struct as _st

    samples = [int(sample(i)) for i in range(n_samples)]
    for s in samples:
        if not -32768 <= s <= 32767:
            raise AudioFormatError("sample out of 16-bit range")
    raw = b"".join(_st.pack("<h", s) for s in samples)
    md5 = hashlib.md5(raw).digest()

    # STREAMINFO (34 bytes), marked as the last metadata block.
    si = _MsbBitWriter()
    si.write(block_size, 16)  # min block size
    si.write(block_size, 16)  # max block size
    si.write(0, 24)  # min frame size (unknown)
    si.write(0, 24)  # max frame size (unknown)
    si.write(sample_rate, 20)
    si.write(0, 3)  # channels - 1 (mono)
    si.write(15, 5)  # bits per sample - 1
    si.write(n_samples, 36)
    streaminfo = si.finish() + md5
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo

    frame_no = 0
    pos = 0
    while pos < n_samples or (n_samples == 0 and frame_no == 0):
        blk = samples[pos : pos + block_size]
        bs = len(blk)
        if bs == 0:
            break
        hdr = _MsbBitWriter()
        hdr.write(0b11111111111110, 14)  # sync
        hdr.write(0, 1)  # reserved
        hdr.write(0, 1)  # fixed-size blocking
        full = bs == block_size
        hdr.write(0b1000 if (full and block_size == 256) else 0b0111, 4)
        hdr.write(0b0000, 4)  # sample rate: from STREAMINFO
        hdr.write(0b0000, 4)  # channel assignment: mono
        hdr.write(0b100, 3)  # sample size: 16 bit
        hdr.write(0, 1)  # reserved
        header = hdr.finish() + _flac_utf8_encode(frame_no)
        if not (full and block_size == 256):
            header += _st.pack(">H", bs - 1)
        header += bytes([_flac_crc8(header)])

        bw = _MsbBitWriter()
        # subframe header
        if bs > 0 and all(s == blk[0] for s in blk):
            bw.write(0, 1)
            bw.write(0b000000, 6)  # CONSTANT
            bw.write(0, 1)
            bw.write(blk[0] & 0xFFFF, 16)
        else:
            order, best = 0, None
            for o in range(0, 3):
                if bs <= o:
                    continue
                cost = sum(
                    abs(r) for r in _flac_residuals(blk, o)
                )
                if best is None or cost < best:
                    order, best = o, cost
            res = _flac_residuals(blk, order)
            bw.write(0, 1)
            bw.write(0b001000 | order, 6)  # FIXED(order)
            bw.write(0, 1)
            for s in blk[:order]:
                bw.write(s & 0xFFFF, 16)
            po = partition_order
            if po and (bs % (1 << po) != 0 or (bs >> po) <= order):
                po = 0
            bw.write(0b00, 2)  # rice method: 4-bit parameters
            bw.write(po, 4)
            nparts = 1 << po
            part_len = bs >> po
            start = 0
            for p in range(nparts):
                cnt = part_len - order if p == 0 else part_len
                part = res[start : start + cnt]
                start += cnt
                k, _ = _flac_best_k(part)
                bw.write(k, 4)
                if k == 15:
                    width = max(
                        (_flac_zigzag(r).bit_length() + 1 for r in part),
                        default=1,
                    )
                    bw.write(width, 5)
                    for r in part:
                        bw.write(_flac_zigzag(r), width)
                else:
                    for r in part:
                        u = _flac_zigzag(r)
                        q = u >> k
                        for _ in range(q):
                            bw.write(0, 1)
                        bw.write(1, 1)
                        bw.write(u & ((1 << k) - 1), k)
        frame = header + bw.finish()
        frame += _st.pack(">H", _flac_crc16(frame))
        out += frame
        pos += bs
        frame_no += 1
    return bytes(out)


def _flac_decode_samples(payload: bytes) -> tuple[list[int], int]:
    """Single decode path for the FLAC subset — returns (samples,
    sample_rate) after validating magic, both CRCs and the STREAMINFO
    MD5. parse_flac/flac_samples are thin views over this."""
    import hashlib
    import struct as _st

    if len(payload) < 8 or payload[:4] != b"fLaC":
        raise AudioFormatError("not a FLAC payload")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise AudioFormatError("truncated metadata block header")
        hdr = payload[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + size]
        if len(body) < size:
            raise AudioFormatError("truncated metadata block")
        if btype == 0:
            if size != 34:
                raise AudioFormatError("bad STREAMINFO size")
            br0 = _FlacBitReader(body)
            br0.read(16)
            br0.read(16)
            br0.read(24)
            br0.read(24)
            sample_rate = br0.read(20)
            n_channels = br0.read(3) + 1
            bits = br0.read(5) + 1
            total = br0.read(36)
            md5_expect = body[18:34]
            streaminfo = (sample_rate, n_channels, bits, total, md5_expect)
        pos += 4 + size
        if last:
            break
    if streaminfo is None:
        raise AudioFormatError("missing STREAMINFO")
    sample_rate, n_channels, bits, total, md5_expect = streaminfo
    if n_channels != 1 or bits != 16:
        raise AudioFormatError("only mono 16-bit FLAC supported")

    samples: list[int] = []
    while pos < len(payload) and len(samples) < total:
        frame_start = pos
        br = _FlacBitReader(payload, pos)
        if br.read(14) != 0b11111111111110:
            raise AudioFormatError("lost frame sync")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        br.read(1)  # reserved
        if ch_code != 0:
            raise AudioFormatError("only mono frames supported")
        if ss_code != 0b100:
            raise AudioFormatError("only 16-bit frames supported")
        _flac_utf8_decode(br)
        if bs_code == 0b0110:
            bs = br.read(8) + 1
        elif bs_code == 0b0111:
            bs = br.read(16) + 1
        elif bs_code == 0b0001:
            bs = 192
        elif 0b0010 <= bs_code <= 0b0101:
            bs = 576 << (bs_code - 2)
        elif bs_code >= 0b1000:
            bs = 256 << (bs_code - 8)
        else:
            raise AudioFormatError("reserved block size code")
        if sr_code == 0b1100:
            br.read(8)
        elif sr_code in (0b1101, 0b1110):
            br.read(16)
        elif sr_code == 0b1111:
            raise AudioFormatError("invalid sample rate code")
        hdr_end = br.bytepos
        if br.bitpos:
            raise AudioFormatError("misaligned frame header")
        if _flac_crc8(payload[frame_start:hdr_end]) != payload[hdr_end]:
            raise AudioFormatError("frame header CRC-8 mismatch")
        br = _FlacBitReader(payload, hdr_end + 1)

        # one subframe (mono)
        if br.read(1) != 0:
            raise AudioFormatError("bad subframe padding bit")
        stype = br.read(6)
        wasted = br.read(1)
        if wasted:
            raise AudioFormatError("wasted bits unsupported")

        def s16(v: int) -> int:
            return v - 0x10000 if v & 0x8000 else v

        if stype == 0b000000:  # CONSTANT
            blk = [s16(br.read(16))] * bs
        elif stype == 0b000001:  # VERBATIM
            blk = [s16(br.read(16)) for _ in range(bs)]
        elif 0b001000 <= stype <= 0b001100:  # FIXED(order)
            order = stype & 0x07
            if order > 4:
                raise AudioFormatError("bad fixed order")
            blk = [s16(br.read(16)) for _ in range(order)]
            method = br.read(2)
            if method not in (0, 1):
                raise AudioFormatError("reserved residual method")
            pbits = 4 if method == 0 else 5
            esc = (1 << pbits) - 1
            po = br.read(4)
            nparts = 1 << po
            if bs % nparts != 0 or (bs >> po) <= order:
                raise AudioFormatError("bad partition order")
            part_len = bs >> po
            res: list[int] = []
            for p in range(nparts):
                cnt = part_len - order if p == 0 else part_len
                k = br.read(pbits)
                if k == esc:
                    width = br.read(5)
                    for _ in range(cnt):
                        res.append(_flac_unzigzag(br.read(width)))
                else:
                    for _ in range(cnt):
                        q = br.read_unary()
                        u = (q << k) | br.read(k)
                        res.append(_flac_unzigzag(u))
            coeffs = _FLAC_FIXED_COEFFS[order]
            for r in res:
                pred = sum(
                    c * blk[len(blk) - 1 - kk] for kk, c in enumerate(coeffs)
                )
                blk.append(r + pred)
        elif stype >= 0b100000:
            raise AudioFormatError("LPC subframes not supported")
        else:
            raise AudioFormatError("reserved subframe type")

        br.align()
        if br.bytepos + 2 > len(payload):
            raise AudioFormatError("truncated frame footer")
        crc_read = _st.unpack_from(">H", payload, br.bytepos)[0]
        if _flac_crc16(payload[frame_start : br.bytepos]) != crc_read:
            raise AudioFormatError("frame CRC-16 mismatch")
        pos = br.bytepos + 2
        samples.extend(blk)

    if len(samples) != total:
        raise AudioFormatError("sample count mismatch")
    raw = b"".join(_st.pack("<h", s) for s in samples)
    if hashlib.md5(raw).digest() != md5_expect:
        raise AudioFormatError("decoded-audio MD5 mismatch")
    return samples, sample_rate


def parse_flac(payload: bytes) -> dict:
    """Decode a fixed-predictor FLAC stream: fLaC magic, metadata-block
    walk (STREAMINFO required, others skipped), then every frame — sync
    + header with end-of-header block-size/sample-rate values, CRC-8
    check, subframes CONSTANT / VERBATIM / FIXED(0..4) with any Rice
    partition order including the raw-bits escape, fixed-predictor
    reconstruction, byte alignment, CRC-16 check — and finally the
    STREAMINFO MD5 verified against the decoded samples. Returns the
    same stats dict as the other audio parsers."""
    samples, sample_rate = _flac_decode_samples(payload)
    return {
        "fmt": "flac",
        "sample_rate": sample_rate,
        "n_channels": 1,
        "n_samples": len(samples),
        "duration_ms": len(samples) * 1000 // sample_rate
        if sample_rate
        else 0,
        "sample_sum": sum(samples),
        "peak": max((abs(s) for s in samples), default=0),
    }


def flac_samples(payload: bytes) -> list[int]:
    """Full decoded sample vector (verification helper)."""
    return _flac_decode_samples(payload)[0]

def wav_pcm_samples(payload: bytes) -> tuple[int, tuple[int, ...]]:
    """(sample_rate, samples) of a mono 16-bit PCM WAV — the raw sample
    access frame-level analyses (VAD, onset detection) need; the same
    RIFF subchunk walk as :func:`parse_wav`, returning the data instead
    of its statistics."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise AudioFormatError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise AudioFormatError("short fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise AudioFormatError("missing fmt or data chunk")
    audio_fmt, n_channels, sample_rate, _br, _al, bits = fmt
    if audio_fmt != 1 or bits != 16 or n_channels != 1:
        raise AudioFormatError("wav_pcm_samples: mono 16-bit PCM only")
    if len(data) % 2:
        raise AudioFormatError("truncated sample data")
    return sample_rate, struct.unpack(f"<{len(data) // 2}h", data)

"""Independent pins for the pure-stdlib PNG codec (functions/media.py).

Per the golden-provenance discipline (r5 VERDICT): every kernel behind an
oracled query needs at least one test that does NOT go through the kernel's
own twin. Here the decoder is pinned against PNGs hand-assembled from the
spec with stdlib zlib/binascii/struct only — including one scanline of each
filter type with the filtering applied by hand — and the encoder against a
full external re-parse. mm_decode_features' oracle then verifies the
distributed round trip end-to-end.
"""

from __future__ import annotations

import binascii
import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from meos_rs_spark.functions.media import (
    png_decode_gray,
    png_encode_gray,
    wav_decode_pcm16,
)

SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", binascii.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _hand_png(width: int, height: int, scanlines: bytes) -> bytes:
    """Assemble a PNG from already-filtered scanline bytes WITHOUT the
    module's encoder — spec structure only."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scanlines))
        + _chunk(b"IEND", b"")
    )


def test_decode_hand_assembled_unfiltered_png():
    # 3x2 image, filter 0 rows: pixels 10..15
    png = _hand_png(3, 2, b"\x00\x0a\x0b\x0c" + b"\x00\x0d\x0e\x0f")
    assert png_decode_gray(png) == (3, 2, bytes([10, 11, 12, 13, 14, 15]))


def test_decode_every_filter_type_hand_filtered():
    """Target pixels (4 wide, 5 rows): row y = [y*10+1 .. y*10+4]. Each row
    uses a different filter type, with the filtering applied BY HAND per
    the spec's difference equations (left/up/average/Paeth predictors)."""
    rows = [[y * 10 + x for x in range(1, 5)] for y in range(5)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    sl = bytearray()
    # row 0: None
    sl += b"\x00" + bytes(rows[0])
    # row 1: Sub — x - left
    sl += b"\x01" + bytes(
        [(rows[1][x] - (rows[1][x - 1] if x else 0)) & 0xFF for x in range(4)]
    )
    # row 2: Up — x - above
    sl += b"\x02" + bytes([(rows[2][x] - rows[1][x]) & 0xFF for x in range(4)])
    # row 3: Average — x - (left + above)//2
    sl += b"\x03" + bytes(
        [(rows[3][x] - ((rows[3][x - 1] if x else 0) + rows[2][x]) // 2) & 0xFF
         for x in range(4)]
    )
    # row 4: Paeth — x - paeth(left, above, upper-left)
    sl += b"\x04" + bytes(
        [(rows[4][x] - paeth(rows[4][x - 1] if x else 0, rows[3][x],
                             rows[3][x - 1] if x else 0)) & 0xFF
         for x in range(4)]
    )
    png = _hand_png(4, 5, bytes(sl))
    w, h, pix = png_decode_gray(png)
    assert (w, h) == (4, 5)
    assert list(pix) == [p for row in rows for p in row]


def test_decode_rejects_corrupt_crc_and_bad_signature():
    good = png_encode_gray(bytes(range(6)), 3, 2)
    # flip a byte of the stored CRC FIELD itself (IEND's last 4 bytes)
    crc_corrupt = bytearray(good)
    crc_corrupt[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        png_decode_gray(bytes(crc_corrupt))
    # flip a byte of the chunk TYPE (the 'D' of IEND) — hashed input changes
    type_corrupt = bytearray(good)
    type_corrupt[-5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        png_decode_gray(bytes(type_corrupt))
    with pytest.raises(ValueError, match="signature"):
        png_decode_gray(b"GIF89a" + good)


def test_decode_rejects_truncation_with_valueerror():
    good = png_encode_gray(bytes(range(6)), 3, 2)
    for cut in (10, len(good) - 2):  # mid-IHDR header, mid-IEND CRC
        with pytest.raises(ValueError, match="truncated"):
            png_decode_gray(good[:cut])


def test_encoder_output_reparses_externally():
    """Full external parse of the encoder's output: chunk walk + CRC check
    + inflate + manual unfilter, no module code on the read side."""
    pixels = bytes((x * 7 + 3) % 256 for x in range(5 * 4))
    data = png_encode_gray(pixels, 5, 4)
    assert data[:8] == SIG
    pos, chunks = 8, []
    while pos < len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + ln)
        assert binascii.crc32(ctype + body) & 0xFFFFFFFF == crc
        chunks.append((ctype, body))
        pos += 12 + ln
    assert [c for c, _ in chunks] == [b"IHDR", b"IDAT", b"IEND"]
    w, h = struct.unpack_from(">II", chunks[0][1])
    assert (w, h) == (5, 4)
    raw = zlib.decompress(chunks[1][1])
    got = b"".join(
        raw[y * (w + 1) + 1 : (y + 1) * (w + 1)] for y in range(h)
    )
    assert raw[:: w + 1] == b"\x00" * h  # filter-0 scanlines
    assert got == pixels


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=30),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=60, deadline=None)
def test_roundtrip_property(w, h, seed):
    pixels = bytes((seed + i * 2654435761) % 256 for i in range(w * h))
    assert png_decode_gray(png_encode_gray(pixels, w, h)) == (w, h, pixels)


def test_wav_decode_stdlib_roundtrip():
    import io
    import wave

    frames = bytes((i * 31) % 256 for i in range(2 * 2 * 100))  # 100 stereo frames
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(2)
        wv.setsampwidth(2)
        wv.setframerate(16000)
        wv.writeframes(frames)
    nch, rate, nframes, got = wav_decode_pcm16(buf.getvalue())
    assert (nch, rate, nframes) == (2, 16000, 100)
    assert got == frames


# --- baseline JPEG codec pins -----------------------------------------------

from meos_rs_spark.functions.media import (  # noqa: E402
    _AC_BITS,
    _AC_VALS,
    _DC_BITS,
    _DC_VALS,
    ZIGZAG,
    jpeg_decode_gray,
    jpeg_encode_gray,
)


def _hand_jpeg(width: int, height: int, entropy: bytes, quant: int = 24) -> bytes:
    """Assemble a baseline grayscale JPEG around already-encoded entropy
    bytes WITHOUT the module's encoder — T.81 marker structure only. The
    Huffman table constants are spec Annex K values (data, not code), so
    reusing them is not 'going through the encoder'."""

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    return b"".join(
        [
            b"\xff\xd8",
            seg(0xFFDB, b"\x00" + bytes([quant] * 64)),
            seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"),
            seg(0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)),
            seg(0xFFC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS)),
            seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00"),
            entropy,
            b"\xff\xd9",
        ]
    )


def test_decode_hand_assembled_dc_only_jpeg():
    """One 8x8 block, DC coefficient 8 (pixel value 8*24/8 + 128 = 152),
    entropy bits derived from the spec tables BY HAND:
    DC size-4 code '101' + appended bits '1000' + EOB '1010', padded with
    1-bits to 0xB1 0x5F. Exercises marker parse, Huffman decode, EXTEND,
    dequantize and the IDCT on bytes this repo's encoder never produced."""
    jpg = _hand_jpeg(8, 8, bytes([0xB1, 0x5F]))
    assert jpeg_decode_gray(jpg) == (8, 8, bytes([152] * 64))


def test_decode_hand_assembled_flat_gray_jpeg():
    """DC diff 0 ('00') + EOB ('1010') + 1-bit pad = 0x2B: mid-gray 128."""
    jpg = _hand_jpeg(8, 8, bytes([0x2B]))
    assert jpeg_decode_gray(jpg) == (8, 8, bytes([128] * 64))


def test_decode_hand_assembled_zrl_block():
    """Decoder ZRL path: DC 0 ('00'), ZRL ('11111111001' — the (15,0)
    symbol, an 11-bit code under the Annex K AC table), then (run 2,
    size 1) = symbol 0x21 ('11100') with bit '1' (value +1) landing the
    coefficient at zigzag index 19, EOB ('1010'). Expected pixels = IDCT
    of that single AC coefficient, computed here with an independent
    textbook double loop, not the module's matrix."""
    import math

    import numpy as np

    bits = "00" + "11111111001" + "11100" + "1" + "1010"
    bits += "1" * (-len(bits) % 8)
    entropy = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    got_w, got_h, got = jpeg_decode_gray(_hand_jpeg(8, 8, entropy, quant=24))

    coef = np.zeros((8, 8))
    coef.reshape(64)[ZIGZAG[19]] = 1 * 24  # dequantized
    exp = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * coef[u, v]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            exp[x, y] = s / 4 + 128
    exp = np.clip(np.floor(exp + 0.5), 0, 255).astype(np.uint8)
    assert (got_w, got_h) == (8, 8)
    assert bytes(got) == exp.tobytes()
    assert exp.min() != exp.max(), "pattern must be non-flat or the pin is weak"


def test_jpeg_flat_tiles_decode_to_exact_closed_form():
    """Flat 8x8 tiles are DC-only; with the uniform quant step 24 (a
    multiple of 8) decode is exact integer math — the property
    mm_jpeg_features' SQL oracle relies on."""
    import numpy as np

    vals = [0, 1, 40, 90, 100, 127, 128, 129, 200, 254, 255]
    img = np.zeros((8, 8 * len(vals)), np.uint8)
    for i, v in enumerate(vals):
        img[:, 8 * i : 8 * i + 8] = v
    _, _, px = jpeg_decode_gray(jpeg_encode_gray(img.tobytes(), 8 * len(vals), 8))
    out = np.frombuffer(px, np.uint8).reshape(8, 8 * len(vals))
    for i, v in enumerate(vals):
        s = v - 128
        dc = (abs(2 * s) + 3) // 6 * (1 if s > 0 else -1 if s < 0 else 0)
        exp = max(0, min(255, 3 * dc + 128))
        tile = out[:, 8 * i : 8 * i + 8]
        assert tile.min() == tile.max() == exp, (v, exp, tile[0, 0])


def test_jpeg_roundtrip_error_bound_and_stuffing():
    """General (lossy) path: with an all-1s quant table the encoder→decoder
    roundtrip error is bounded by quantization alone (max 2 gray levels on
    random noise — the hardest content), and the entropy stream of a noisy
    image must contain a stuffed 0xFF00 so the (un)stuffing path is
    provably exercised, plus ZRL/EOB-heavy blocks via a sparse image."""
    import numpy as np

    rng = np.random.RandomState(7)
    ri = rng.randint(0, 256, (24, 32), dtype=np.uint8)
    blob = jpeg_encode_gray(ri.tobytes(), 32, 24, quant=[1] * 64)
    assert b"\xff\x00" in blob.split(b"\xff\xda")[1], "stuffing never happened"
    w, h, px = jpeg_decode_gray(blob)
    err = np.abs(np.frombuffer(px, np.uint8).reshape(24, 32).astype(int) - ri)
    assert (w, h) == (32, 24) and err.max() <= 2

    sparse = np.full((16, 16), 128, np.uint8)
    sparse[3, 5] = 255  # one spike -> long zigzag zero runs in its block
    blob2 = jpeg_encode_gray(sparse.tobytes(), 16, 16, quant=[1] * 64)
    _, _, px2 = jpeg_decode_gray(blob2)
    err2 = np.abs(np.frombuffer(px2, np.uint8).reshape(16, 16).astype(int) - sparse)
    assert err2.max() <= 2


def test_jpeg_rejects_unsupported_variants():
    entropy = bytes([0x2B])
    good = _hand_jpeg(8, 8, entropy)
    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode_gray(b"\x00" + good)
    with pytest.raises(ValueError, match="SOF0"):
        jpeg_decode_gray(good.replace(b"\xff\xc0", b"\xff\xc2"))  # progressive
    with pytest.raises(ValueError, match="truncated|missing"):
        jpeg_decode_gray(good[:20])
    # 16-bit quant table: flip DQT's Pq nibble
    bad_dqt = good.replace(b"\xff\xdb\x00\x43\x00", b"\xff\xdb\x00\x43\x10")
    with pytest.raises(ValueError, match="16-bit"):
        jpeg_decode_gray(bad_dqt)
    with pytest.raises(ValueError):
        jpeg_encode_gray(b"\x00" * 24, 6, 4)  # not MCU-aligned
    with pytest.raises(ValueError):
        jpeg_encode_gray(b"\x00" * 63, 8, 8)  # wrong pixel count


def _pin_noise(w, h):
    import numpy as np

    return np.random.default_rng(20261019).integers(0, 256, size=(h, w), dtype=np.uint8)


def _pin_gradient(w, h):
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    return ((x * 255) // max(w - 1, 1) // 2 + (y * 255) // max(h - 1, 1) // 2).astype(np.uint8)


def _pin_checker(w, h):
    """8-px checkerboard offset by 4 px, so every 8x8 block is non-flat."""
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    return np.where(((x + 4) // 8 + (y + 4) // 8) % 2, 200, 40).astype(np.uint8)


@pytest.mark.parametrize(
    "image,w,h,quant,encoded_md5,decoded_md5",
    [
        (_pin_noise, 8, 8, None, "fb7037658c4473c56b4074fdcc4fd00a", "66f7a06e4ed53447384caa1448be17bf"),
        (_pin_noise, 48, 32, None, "5e83575b00d66f923c819b36af423354", "84addd2fbfa6ccd232911711ddc2f950"),
        (_pin_noise, 48, 32, [1] * 64, "632cfbda07a61be3d6d54096fbbbd4cf", "d2d546959e57bb50bab3625a22a237ee"),
        (_pin_gradient, 8, 8, None, "c27527bfda321dc6089b9594f71164cd", "8dba5204053f686d41be6d02e599e1de"),
        (_pin_gradient, 48, 32, None, "6a097be814a01d65cc299feef1ecf2ec", "997a0b3af40cba1db16bb177cd42f155"),
        (_pin_checker, 8, 8, None, "5b04b2a81f4c23b3a8f68d455ea7ce97", "0d132f4fe447276e6d22e92ffb7be427"),
        (_pin_checker, 48, 32, None, "ef3e0b8c6080c60ac1a77ac6f055df99", "6d7b086cee4722008b7b4ff1eeb98a40"),
    ],
    ids=["noise8x8", "noise48x32", "noise48x32-q1", "gradient8x8", "gradient48x32",
         "checker8x8", "checker48x32"],
)
def test_jpeg_codec_bytes_are_pinned(image, w, h, quant, encoded_md5, decoded_md5):
    """Byte-exact pins of the lossy path on non-flat images: the md5 of the
    encoded stream and of the decoded pixels, recorded from the einsum-based
    DCT/IDCT the matmul form replaced. Any change to the transform's
    rounding, the zigzag order or the entropy coder moves one of them."""
    import hashlib

    px = image(w, h)
    assert px.min() != px.max(), "pattern must be non-flat or the pin is weak"
    blob = jpeg_encode_gray(px.tobytes(), w, h, quant=quant)
    got_w, got_h, decoded = jpeg_decode_gray(blob)
    assert (got_w, got_h) == (w, h)
    assert hashlib.md5(blob).hexdigest() == encoded_md5
    assert hashlib.md5(decoded).hexdigest() == decoded_md5


@settings(max_examples=15, deadline=None)
@given(
    bw=st.integers(min_value=1, max_value=4),
    bh=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_roundtrip_property(bw, bh, seed):
    """Any MCU-aligned image survives encode→decode within the q=1
    quantization bound, and DC prediction chains across many blocks."""
    import numpy as np

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (8 * bh, 8 * bw), dtype=np.uint8)
    w, h, px = jpeg_decode_gray(jpeg_encode_gray(img.tobytes(), 8 * bw, 8 * bh, quant=[1] * 64))
    assert (w, h) == (8 * bw, 8 * bh)
    err = np.abs(np.frombuffer(px, np.uint8).reshape(8 * bh, 8 * bw).astype(int) - img)
    assert err.max() <= 2


# --- YUV4MPEG2 container pins ------------------------------------------------

from meos_rs_spark.functions.media import (  # noqa: E402
    y4m_decode_mono,
    y4m_encode_mono,
)


def test_y4m_decode_hand_assembled_stream():
    """Stream assembled from the format definition WITHOUT the encoder —
    reordered header tags and an X extension tag are legal and must parse."""
    f0, f1 = bytes(range(6)), bytes([9] * 6)
    raw = b"YUV4MPEG2 F30:1 Cmono H2 W3 Xsomething\n" + b"FRAME\n" + f0 + b"FRAME\n" + f1
    assert y4m_decode_mono(raw) == (3, 2, (30, 1), [f0, f1])


def test_y4m_roundtrip_and_frame_params():
    frames = [bytes([i] * 64) for i in range(5)]
    blob = y4m_encode_mono(frames, 8, 8, fps=(24, 1))
    assert y4m_decode_mono(blob) == (8, 8, (24, 1), frames)
    # record geometry is the arithmetic mm_frame_sample's JVM-side seek uses
    header_len = blob.index(b"\n") + 1
    assert blob[header_len + 2 * (6 + 64) : header_len + 2 * (6 + 64) + 6] == b"FRAME\n"


def test_y4m_rejects_bad_streams():
    good = y4m_encode_mono([bytes(64)], 8, 8)
    with pytest.raises(ValueError, match="magic"):
        y4m_decode_mono(b"JUNK" + good)
    with pytest.raises(ValueError, match="Cmono"):
        y4m_decode_mono(good.replace(b"Cmono", b"C420 "))
    with pytest.raises(ValueError, match="missing W"):
        y4m_decode_mono(b"YUV4MPEG2 H8 Cmono\n")
    with pytest.raises(ValueError, match="truncated"):
        y4m_decode_mono(good[:-10])
    with pytest.raises(ValueError, match="FRAME"):
        y4m_decode_mono(good[: good.index(b"FRAME")] + b"FRAMX\n" + bytes(64))
    with pytest.raises(ValueError, match="luma bytes"):
        y4m_encode_mono([bytes(63)], 8, 8)


def test_jpeg_rejects_missing_tables_cleanly():
    """Streams omitting DQT or DHT must raise the module's declared
    ValueError, not leak a KeyError out of a mapInPandas task."""
    good = _hand_jpeg(8, 8, bytes([0x2B]))
    # excise the DQT segment (0xFFDB, length 0x43+2)
    i = good.index(b"\xff\xdb")
    no_dqt = good[:i] + good[i + 4 + 0x41 :]
    with pytest.raises(ValueError, match="DQT"):
        jpeg_decode_gray(no_dqt)
    # excise both DHT segments
    s = good
    while b"\xff\xc4" in s:
        j = s.index(b"\xff\xc4")
        (ln,) = struct.unpack_from(">H", s, j + 2)
        s = s[:j] + s[j + 2 + ln :]
    with pytest.raises(ValueError, match="DHT"):
        jpeg_decode_gray(s)


def test_y4m_rejects_nonpositive_geometry():
    """A crafted negative width must raise, not walk the FRAME records
    backward forever (review find, this round)."""
    with pytest.raises(ValueError, match="positive"):
        y4m_decode_mono(b"YUV4MPEG2 W-6 H1 Cmono\n" + b"FRAME\n")
    with pytest.raises(ValueError, match="positive"):
        y4m_decode_mono(b"YUV4MPEG2 W0 H8 Cmono\n")


@settings(max_examples=20, deadline=None)
@given(
    qmul=st.integers(min_value=1, max_value=31),
    v=st.integers(min_value=0, max_value=255),
)
def test_jpeg_dc_only_exactness_for_any_8_multiple_quant(qmul, v):
    """The property mm_jpeg_features' oracle stands on, generalized: for ANY
    uniform quant step that is a multiple of 8, a flat block decodes to the
    exact integer 128 + q*round_half_away((v-128)/q)/... — concretely
    clamp(round((round(8*(v-128)/q))*q/8) + 128), with float IDCT noise
    provably unable to move the result (the reconstruction is an exact
    integer, never a .5 boundary)."""
    import numpy as np

    q = 8 * qmul
    img = np.full((8, 8), v, np.uint8)
    _, _, px = jpeg_decode_gray(jpeg_encode_gray(img.tobytes(), 8, 8, quant=[q] * 64))
    s = v - 128
    dc = (abs(2 * 8 * s) + q) // (2 * q) * (1 if s > 0 else -1 if s < 0 else 0)
    exp = max(0, min(255, dc * q // 8 + 128))
    assert set(px) == {exp}, (q, v, exp, px[0])


# --- MJPEG/AVI container pins ------------------------------------------------

from meos_rs_spark.functions.media import (  # noqa: E402
    avi_decode_mjpeg,
    avi_encode_mjpeg,
)


def test_avi_mjpeg_roundtrip_including_odd_chunk_padding():
    """Real compressed video on pure stdlib: JPEG frames in a genuine AVI
    (RIFF) container. Frame byte lengths vary (entropy coding), so this
    naturally exercises RIFF's word-alignment pad bytes; the extracted
    chunks must equal the stored JPEGs bit-for-bit and decode within the
    codec's q=1 quantization bound."""
    import numpy as np

    rng = np.random.RandomState(11)
    imgs = [rng.randint(0, 256, (16, 16), dtype=np.uint8) for _ in range(4)]
    jf = [jpeg_encode_gray(i.tobytes(), 16, 16, quant=[1] * 64) for i in imgs]
    assert any(len(f) % 2 for f in jf), "want at least one odd-size chunk"
    w, h, fps, frames = avi_decode_mjpeg(avi_encode_mjpeg(jf, 16, 16, fps=30))
    assert (w, h, fps) == (16, 16, 30)
    assert frames == jf
    for f, img in zip(frames, imgs):
        _, _, px = jpeg_decode_gray(f)
        err = np.abs(np.frombuffer(px, np.uint8).reshape(16, 16).astype(int) - img)
        assert err.max() <= 2


def test_avi_strh_is_spec_sized_for_external_parsers():
    """AVISTREAMHEADER is 56 bytes (9 DWORDs + 2 WORDs + rcFrame); a larger
    strh shifts dwSampleSize/rcFrame for strict external parsers even though
    the in-repo decoder reads dwScale/dwRate at fixed spec offsets (r7
    ADVICE item 1)."""
    data = avi_encode_mjpeg([b"\xff\xd8\xff\xd9"], 8, 8, fps=25)
    at = data.find(b"strh")
    assert at > 0
    (size,) = struct.unpack_from("<I", data, at + 4)
    assert size == 56
    # rcFrame sits at the spec offset: right/bottom == width/height
    right, bottom = struct.unpack_from("<hh", data, at + 8 + 52)
    assert (right, bottom) == (8, 8)


def test_avi_decode_hand_assembled_minimal_file():
    """An AVI assembled from the RIFF spec by hand (no encoder): one vids/
    MJPG stream, one frame chunk. strh layout: fccType, fccHandler,
    dwFlags, wPriority+wLanguage, dwInitialFrames, dwScale=1, dwRate=10."""
    frame = b"\xff\xd8FAKEJPEG\xff\xd9"  # content is opaque to the container

    def ck(ckid, body):
        return ckid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) % 2 else b"")

    strh = b"vids" + b"MJPG" + struct.pack("<IHHIII", 0, 0, 0, 0, 1, 10) + bytes(24)
    strf = struct.pack("<Iii", 40, 8, 8) + bytes(28)
    hdrl = ck(b"LIST", b"hdrl" + ck(b"avih", bytes(56))
              + ck(b"LIST", b"strl" + ck(b"strh", strh) + ck(b"strf", strf)))
    movi = ck(b"LIST", b"movi" + ck(b"00dc", frame))
    avi = ck(b"RIFF", b"AVI " + hdrl + movi)
    assert avi_decode_mjpeg(avi) == (8, 8, 10, [frame])


def test_avi_rejects_bad_streams():
    good = avi_encode_mjpeg([b"\xff\xd8x\xff\xd9"], 8, 8)
    with pytest.raises(ValueError, match="RIFF"):
        avi_decode_mjpeg(b"JUNK" + good)
    with pytest.raises(ValueError, match="MJPG"):
        avi_decode_mjpeg(good.replace(b"MJPG", b"H264", 1))
    with pytest.raises(ValueError, match="truncated"):
        avi_decode_mjpeg(good[:60])
    # a size-consistent RIFF shell with no stream header at all
    shell = b"RIFF" + struct.pack("<I", 12) + b"AVI " + b"idx1" + struct.pack("<I", 0)
    with pytest.raises(ValueError, match="no video stream"):
        avi_decode_mjpeg(shell)


def test_container_truncation_sweep_never_hangs_or_leaks_raw_errors():
    """Every strict prefix of a Y4M and an AVI file must either decode (it
    can't — both formats need their tails) or raise the module's declared
    ValueError: no infinite walk, no struct.error/KeyError leaking out of a
    mapInPandas task. (A one-off 1200-file fuzz + this sweep ran clean in
    round 7; this keeps the sweep as a regression gate.)"""
    y4m = y4m_encode_mono([bytes(range(64))], 8, 8)
    avi = avi_encode_mjpeg([bytes(range(64))], 8, 8)
    # PNG: the only accepting prefix is everything-but-IEND (a lenient,
    # fully-decodable stream — signature, IHDR and the whole IDAT intact)
    png = png_encode_gray(bytes(range(48)), 8, 6)
    for cut in range(len(png)):
        if cut == len(png) - 12:
            assert png_decode_gray(png[:cut]) == (8, 6, bytes(range(48)))
            continue
        with pytest.raises(ValueError):
            png_decode_gray(png[:cut])
    # JPEG: only the cuts that drop (part of) the trailing EOI marker
    # accept — the whole entropy stream is present and decodes identically
    import numpy as np

    img = np.arange(256, dtype=np.uint8).reshape(16, 16)
    jpg = jpeg_encode_gray(img.tobytes(), 16, 16, quant=[1] * 64)
    ref = jpeg_decode_gray(jpg)
    for cut in range(len(jpg)):
        if cut >= len(jpg) - 2:
            assert jpeg_decode_gray(jpg[:cut]) == ref
            continue
        with pytest.raises(ValueError):
            jpeg_decode_gray(jpg[:cut])
    header_len = y4m.index(b"\n") + 1
    for blob, dec in ((y4m, y4m_decode_mono), (avi, avi_decode_mjpeg)):
        for cut in range(len(blob)):
            if dec is y4m_decode_mono and cut == header_len:
                # the complete header alone IS a valid zero-frame stream:
                # Y4M carries no frame count, so this prefix is not a
                # truncation — it must decode to an empty frame list
                assert dec(blob[:cut]) == (8, 8, (25, 1), [])
                continue
            with pytest.raises(ValueError):
                dec(blob[:cut])


def test_y4m_frame_payload_may_contain_the_frame_magic():
    """The decoder walks by computed record size, not by magic search — a
    luma plane that happens to start with b'FRAME\\n' must round-trip."""
    evil = b"FRAME\n" + bytes(58)
    assert y4m_decode_mono(y4m_encode_mono([evil], 8, 8))[3] == [evil]

"""Deterministic media payload builders for benchmarks and fixtures.

Spec-built encoders (netpbm P6, 24-bit BMP, PNG with a chosen scanline
filter, 16-bit PCM WAV) plus one embedded baseline JPEG produced by an
EXTERNAL encoder (Java ImageIO — this repo deliberately ships no JPEG
encoder). Built to measure decode throughput through
operators/multimodal.extract_features (round-4 verdict #5). The tests
keep their own independent copies of these encoders
(tests/test_media_decoders.py) so decoder round-trip tests do not share
code with what they test; external anchoring lives in
tests/test_golden_decoders.py.
"""

from __future__ import annotations

import base64
import struct
import zlib

import numpy as np


def make_ppm(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def make_bmp(img_rgb: np.ndarray) -> bytes:
    """Uncompressed bottom-up 24-bit BMP (BGR rows padded to 4 bytes)."""
    h, w, _ = img_rgb.shape
    row_size = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = img_rgb[y, :, ::-1].astype(np.uint8).tobytes()
        body += row + b"\x00" * (row_size - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    return header + info + bytes(body)


def _png_chunk(ctype: bytes, chunk_body: bytes) -> bytes:
    return (
        struct.pack(">I", len(chunk_body)) + ctype + chunk_body
        + struct.pack(">I", zlib.crc32(ctype + chunk_body) & 0xFFFFFFFF)
    )


def make_png(img: np.ndarray, filter_type: int = 1) -> bytes:
    """8-bit non-interlaced PNG; every scanline uses `filter_type`.

    Gray (h,w) or color (h,w,3)/(h,w,4); the filter bytes are computed by
    the inverse of the RFC 2083 reconstruction, so decode(make_png(x))==x.
    """
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color = {1: 0, 3: 2, 4: 6}[ch]
    bpp = ch
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int16)
    for y in range(h):
        line = img[y].astype(np.int16).ravel()
        left = np.zeros_like(line)
        left[bpp:] = line[:-bpp]
        upleft = np.zeros_like(prev)
        upleft[bpp:] = prev[:-bpp]
        if filter_type == 0:
            enc = line
        elif filter_type == 1:
            enc = line - left
        elif filter_type == 2:
            enc = line - prev
        elif filter_type == 3:
            enc = line - (left + prev) // 2
        elif filter_type == 4:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = line - pred
        else:
            raise ValueError(filter_type)
        raw += bytes([filter_type]) + (enc % 256).astype(np.uint8).tobytes()
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _lzw_encode_gif(indices: bytes, min_code_size: int) -> bytes:
    """Spec-built GIF LZW encoder (bench/fixture side; the decoder under
    test lives in operators/multimodal.py and tests keep a third copy)."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code, code_size = eoi + 1, min_code_size + 1
    bits = nbits = 0
    out = bytearray()

    def emit(code: int, size: int) -> None:
        nonlocal bits, nbits
        bits |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(bits & 0xFF)
            bits >>= 8
            nbits -= 8

    emit(clear, code_size)
    cur = b""
    for byte in indices:
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], code_size)
        if next_code < 4096:
            table[nxt] = next_code
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
            next_code += 1
        else:
            emit(clear, code_size)
            table = {bytes([j]): j for j in range(clear)}
            next_code, code_size = eoi + 1, min_code_size + 1
        cur = bytes([byte])
    if cur:
        emit(table[cur], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(bits & 0xFF)
    return bytes(out)


def make_gif_gray(img: np.ndarray) -> bytes:
    """GIF89a of an (h, w) uint8 grayscale image over a 256-gray palette."""
    h, w = img.shape
    gct = bytes(v for g in range(256) for v in (g, g, g))
    head = b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x80 | 7, 0, 0]) + gct
    desc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    lzw = _lzw_encode_gif(img.astype(np.uint8).tobytes(), 8)
    blocks = bytearray([8])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    return head + desc + bytes(blocks) + b"\x3b"


def _ulaw_compress(samples_i16: np.ndarray) -> np.ndarray:
    """Linear 16-bit -> G.711 mu-law bytes: nearest-expansion quantizer
    against the decoder's value table (a valid encoder by construction —
    decode(encode(x)) is the closest representable level to x)."""
    from entitylinking_spark.operators.multimodal import _g711_ulaw_expand

    levels = _g711_ulaw_expand(np.arange(256, dtype=np.uint8))
    order = np.argsort(levels)
    sorted_levels = levels[order]
    pos = np.searchsorted(sorted_levels, samples_i16.astype(np.int64))
    pos = np.clip(pos, 1, 255)
    lo, hi = sorted_levels[pos - 1], sorted_levels[pos]
    pick = np.where(np.abs(samples_i16 - lo) <= np.abs(hi - samples_i16),
                    pos - 1, pos)
    return order[pick].astype(np.uint8)


def make_wav_ulaw(samples_i16: np.ndarray, rate: int = 8000,
                  channels: int = 1) -> bytes:
    """RIFF/WAVE with G.711 mu-law payload (format tag 7)."""
    data = _ulaw_compress(samples_i16).tobytes()
    fmt = struct.pack("<HHIIHH", 7, channels, rate, rate * channels,
                      channels, 8)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def make_avi_mjpeg(frames: list[bytes], width: int, height: int,
                   fps: int = 25) -> bytes:
    """Minimal spec-built MJPEG AVI: RIFF(AVI ) / LIST hdrl(avih + strl) /
    LIST movi with one '00dc' chunk per JPEG frame. Enough structure for
    any MJPEG-capable player; the decoder under test walks the container
    and decodes each chunk with its own JPEG path."""
    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    us_per_frame = 1_000_000 // fps
    max_bytes = max(len(f) for f in frames)
    avih = struct.pack(
        "<14I", us_per_frame, max_bytes * fps, 0, 0x10, len(frames), 0, 1,
        max_bytes, width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh", b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0,
        len(frames), max_bytes, 0xFFFFFFFF, 0, 0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


def make_wav(samples_i16: np.ndarray, rate: int = 8000, channels: int = 1) -> bytes:
    data = samples_i16.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * 2 * channels,
                      2 * channels, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


# 160x120 RGB gradient, baseline JFIF, encoded by Java ImageIO (external)
BENCH_JPEG_B64 = (
    "/9j/4AAQSkZJRgABAgAAAQABAAD/2wBDAAgGBgcGBQgHBwcJCQgKDBQNDAsLDBkSEw8UHRofHh0a"
    "HBwgJC4nICIsIxwcKDcpLDAxNDQ0Hyc5PTgyPC4zNDL/2wBDAQkJCQwLDBgNDRgyIRwhMjIyMjIy"
    "MjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjL/wAARCAB4AKADASIA"
    "AhEBAxEB/8QAHwAAAQUBAQEBAQEAAAAAAAAAAAECAwQFBgcICQoL/8QAtRAAAgEDAwIEAwUFBAQA"
    "AAF9AQIDAAQRBRIhMUEGE1FhByJxFDKBkaEII0KxwRVS0fAkM2JyggkKFhcYGRolJicoKSo0NTY3"
    "ODk6Q0RFRkdISUpTVFVWV1hZWmNkZWZnaGlqc3R1dnd4eXqDhIWGh4iJipKTlJWWl5iZmqKjpKWm"
    "p6ipqrKztLW2t7i5usLDxMXGx8jJytLT1NXW19jZ2uHi4+Tl5ufo6erx8vP09fb3+Pn6/8QAHwEA"
    "AwEBAQEBAQEBAQAAAAAAAAECAwQFBgcICQoL/8QAtREAAgECBAQDBAcFBAQAAQJ3AAECAxEEBSEx"
    "BhJBUQdhcRMiMoEIFEKRobHBCSMzUvAVYnLRChYkNOEl8RcYGRomJygpKjU2Nzg5OkNERUZHSElK"
    "U1RVVldYWVpjZGVmZ2hpanN0dXZ3eHl6goOEhYaHiImKkpOUlZaXmJmaoqOkpaanqKmqsrO0tba3"
    "uLm6wsPExcbHyMnK0tPU1dbX2Nna4uPk5ebn6Onq8vP09fb3+Pn6/9oADAMBAAIRAxEAPwDwaNau"
    "RLVeJauRrROANFiNatxLUES1cjWuOcDJoniWrka1XiWrkS1xzgZNFiJatxrUEa1ciWuOcDNoniWr"
    "ka1XjWrkS1yTgZNFiJauRLVeNauRLXHOBk0TxrVyJagiWrca1xzgZNFiNauRLVeJauRrXHOBk0fO"
    "ES1cjWq8a1ciWv0CcD9baLES1ciWq8a1ciWuOcDJo85jWrkS1BEtW41r6ucD5BosRrVyJarxLVyN"
    "a45wMmixGtW4lqCJauRrXHOBk0TxLVyNarxLVyJa45wMmixEtW41qCNauRLXHOBm0TxLVyNarxrV"
    "yJa5JwMmixEtXIlqvGtXIlrjnAyaJ41q5EtQRLVuNa45wMmj5xiWrca1BGtXIlr9AnA/W2ieJauR"
    "rVeNauRLXHOBk0edRLVyJarxrVyJa+rnA+QaJ41q5EtQRLVuNa45wMmixGtXIlqvEtXI1rjnAyaL"
    "Ea1biWoIlq5Gtcc4GTRPEtXI1qvEtXIlrjnAyaLES1bjWoI1q5Etcc4GbRPEtXI1qvGtXIlrknAy"
    "aLES1ciWq8a1ciWuOcDJo+cIlq5GtV4lq5EtffzgfrTRYiWrca1BGtXIlrknAzaPOYlq5GtQRrVu"
    "Ja+rnA+PaLES1ciWq8a1ciWuOcDNonjWrkS1BEtW41rjnAyaLEa1ciWq8S1cjWuOcDJosRrVuJag"
    "iWrka1xzgZNE8S1cjWq8S1ciWuOcDJosRLVuNagjWrkS1xzgZtE8S1cjWq8a1ciWuScDJo+cY1q3"
    "EtQRLVyNa+/nA/WmieJauRrVeJauRLXHOBk0edRLVyNarxrVyJa+rnA+QaJ4lq5GtQRrVuJa5JwM"
    "mixEtXIlqvGtXIlrjnAzaJ41q5EtQRLVuNa45wMmixGtXIlqvEtXI1rjnAyaLEa1biWoIlq5Gtcc"
    "4GTRPEtXI1qvEtXIlrjnAyaLES1bjWoI1q5Etcc4GbR84RrVyJarxLVyNa/QJwP1posRrVuJagiW"
    "rka1xzgZNHnMS1cjWq8S1ciWvq5wPkGixEtXI1qvGtXIlrjnAyaJ4lq5GtQRrVuJa5JwMmixEtXI"
    "lqvGtXIlrjnAzaJ41q5EtQRLVuNa45wMmixGtXIlqvEtXI1rjnAyaLEa1biWoIlq5Gtcc4GTRPEt"
    "XI1qvEtXIlrjnAyaPnCNauRLUES1bjWv0CcD9baLEa1ciWq8S1cjWuOcDJo86jWrcS1BEtXI1r6u"
    "cD5BoniWrka1XiWrkS1xzgZNFiJauRrVeNauRLXHOBk0TxLVyNagjWrcS1yTgZNFiJauRLVeNauR"
    "LXHOBm0TxrVyJagiWrca1xzgZNFiNauRLVeJauRrXHOBk0WI1q3EtQRLVyNa45wMmj5wiWrkS1Xj"
    "WrkS1+gTgfrbRPGtZWsa55O60tG/e9JJB/B7D3/l9elfWdb8ndaWjfvekkg/g9h7/wAvr0wI1rbD"
    "4G/vzXoj4XiLP+S+Fwr1+1Lt5Lz7vp67TxrVyJaKK9eaRq0XI1q3EtFFcc0jJouRLVyNaKK45pGT"
    "RciWrka0UVyTSM2i3EtXI1oorjmkZNFyJauRLRRXHNIyaLca1ciWiiuOaRk0XI1q5EtFFcc0jJo+"
    "dIlrK1nW/J3Wlo373pJIP4PYe/8AL69Civ0zC0YTqe90Pt+KMZWwuEXsXZydm+trdDn4lq5GtFFd"
    "00j8saP/2Q=="
)


def bench_payloads(img_hw: tuple[int, int] = (256, 256),
                   wav_samples: int = 200_000, seed: int = 0) -> dict[str, bytes]:
    """One deterministic payload per format, keyed by format name."""
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (*img_hw, 3), dtype=np.uint8)
    pcm = rng.randint(-30000, 30000, wav_samples).astype(np.int16)
    return {
        "ppm": make_ppm(img),
        "bmp": make_bmp(img),
        # filter 4 (Paeth) everywhere: the WORST-case reconstruction path,
        # so the recorded PNG MB/s is the floor, not the None/Up fast path
        "png": make_png(img, filter_type=4),
        "jpeg": base64.b64decode(BENCH_JPEG_B64),
        # random indices = LZW's worst case (no runs, table churn): the
        # recorded GIF MB/s is the per-code Python loop's floor
        "gif": make_gif_gray(img.mean(axis=2).astype(np.uint8)),
        # 5-frame MJPEG around the external-encoder JPEG (160x120)
        "avi": make_avi_mjpeg([base64.b64decode(BENCH_JPEG_B64)] * 5,
                              160, 120),
        "wav": make_wav(pcm),
        "wav_ulaw": make_wav_ulaw(pcm),
    }

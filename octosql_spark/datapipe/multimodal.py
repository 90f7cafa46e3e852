"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched
``mapInPandas``.

The Spark-side design is real and tested — schemas, partition-sized
Arrow batches, UDF signatures. Codec status per format:

- **headers** (PNG/JPEG/GIF/BMP IHDR/SOF, WAV RIFF, MP4 mvhd):
  REAL, dependency-free parsers.
- **PNG + BMP + GIF + baseline JPEG pixels**: REAL — pure-Python
  codecs (PNG: zlib inflate + per-row unfiltering, filter-0
  re-encode; BMP: uncompressed BI_RGB 24/32-bit; GIF: LZW + palette
  + de-interlace, first frame; JPEG: canonical-Huffman entropy
  decode + dequant + vectorized IDCT + chroma upsample for
  4:4:4/4:2:2/4:2:0/grayscale, with a matching Annex-K-table
  encoder) power actual nearest-neighbor ``resize_media`` and 8x8
  mean-pool ``extract_features`` under ``backend="pixels"``.
  Resized output is normalized to PNG regardless of the input
  container.
- **WAV samples**: REAL — integer-PCM decode (8/16/32-bit, any
  channel count, mono downmix) feeds a 64-window RMS-envelope
  embedding in ``extract_features(backend="pixels")``, the audio
  twin of the image thumbnail.
- **everything else** (progressive JPEG, compressed audio, video
  frames): stubbed behind deterministic fakes, with
  ``backend="real"`` raising where PIL/ffmpeg would slot in on a
  real cluster.

Scale notes: media bytes never leave the executor; mapInPandas streams
Arrow batches, so peak memory is one batch (tune
``spark.sql.execution.arrow.maxRecordsPerBatch`` for big blobs).
Metadata-only pipelines (filter by width/duration) should select the
metadata struct and let column pruning skip the binary entirely.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = ("media_type string, byte_size long, "
                     "content_hash string")


def attach_media_metadata(df: DataFrame, binary_col: str = "media",
                          media_type_col: str | None = None) -> DataFrame:
    """Typed metadata columns for an opaque binary column — pure
    expressions (no decode): size, content hash, declared type."""
    mt = (F.col(media_type_col) if media_type_col
          else F.lit("application/octet-stream"))
    return df.withColumn(
        "media_meta",
        F.struct(mt.alias("media_type"),
                 F.length(F.col(binary_col)).cast("long").alias("byte_size"),
                 F.md5(F.col(binary_col)).alias("content_hash")))


def _fake_decode(data: bytes) -> dict:
    """Deterministic stand-in for a real codec: derives stable pseudo
    dimensions/duration from the bytes so downstream plumbing (schema,
    filters, joins) is fully exercisable without PIL/ffmpeg."""
    h = int.from_bytes(data[:8].ljust(8, b"\0"), "little")
    return {"width": 16 + h % 4096, "height": 16 + (h >> 12) % 4096,
            "n_frames": 1 + (h >> 24) % 300,
            "duration_s": float((h >> 32) % 3600) / 10.0}


DECODED_SCHEMA = ("width int, height int, n_frames int, duration_s double")


def _pil_available() -> bool:
    try:
        import PIL.Image  # noqa: F401
        return True
    except ImportError:
        return False


def _parse_image_header(data: bytes) -> dict | None:
    """Pure-Python image header parse (no dependencies): PNG IHDR,
    JPEG SOF, GIF logical screen descriptor, BMP info header. Returns
    the DECODED_SCHEMA dict for recognized still images, None for
    anything else (caller falls back)."""
    if len(data) >= 24 and data[:8] == b"\x89PNG\r\n\x1a\n":
        return {"width": int.from_bytes(data[16:20], "big"),
                "height": int.from_bytes(data[20:24], "big"),
                "n_frames": 1, "duration_s": 0.0}
    if len(data) >= 10 and data[:6] in (b"GIF87a", b"GIF89a"):
        return {"width": int.from_bytes(data[6:8], "little"),
                "height": int.from_bytes(data[8:10], "little"),
                "n_frames": 1, "duration_s": 0.0}
    if len(data) >= 26 and data[:2] == b"BM":
        return {"width": int.from_bytes(data[18:22], "little", signed=True),
                "height": abs(int.from_bytes(data[22:26], "little",
                                             signed=True)),
                "n_frames": 1, "duration_s": 0.0}
    if len(data) >= 4 and data[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(data):
            if data[i] != 0xFF:
                break
            marker = data[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = int.from_bytes(data[i + 2:i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                return {"width": int.from_bytes(data[i + 7:i + 9], "big"),
                        "height": int.from_bytes(data[i + 5:i + 7], "big"),
                        "n_frames": 1, "duration_s": 0.0}
            i += 2 + seg_len
    return None


def _parse_av_header(data: bytes) -> dict | None:
    """Pure-Python audio/video header parse (no dependencies): WAV
    (RIFF fmt/data chunks → sample-rate-exact duration) and MP4/ISO
    BMFF (moov/mvhd timescale+duration). Width/height stay 0 for
    audio; MP4 reports container duration without decoding frames."""
    # WAV: RIFF....WAVE then chunk walk
    if len(data) >= 44 and data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        i, byte_rate, data_size = 12, 0, 0
        while i + 8 <= len(data):
            cid = data[i:i + 4]
            clen = int.from_bytes(data[i + 4:i + 8], "little")
            if cid == b"fmt " and i + 16 + 8 <= len(data):
                byte_rate = int.from_bytes(data[i + 16:i + 20], "little")
            elif cid == b"data":
                data_size = clen
            i += 8 + clen + (clen & 1)
        if byte_rate > 0:
            return {"width": 0, "height": 0, "n_frames": 1,
                    "duration_s": round(data_size / byte_rate, 3)}
    # MP4 / ISO BMFF: top-level box walk to moov → mvhd
    if len(data) >= 12 and data[4:8] == b"ftyp":
        i = 0
        while i + 8 <= len(data):
            blen = int.from_bytes(data[i:i + 4], "big")
            btyp = data[i + 4:i + 8]
            if blen < 8:
                break
            if btyp == b"moov":
                j = i + 8
                while j + 8 <= min(i + blen, len(data)):
                    slen = int.from_bytes(data[j:j + 4], "big")
                    styp = data[j + 4:j + 8]
                    if styp == b"mvhd" and j + 8 + 20 <= len(data):
                        ver = data[j + 8]
                        if ver == 1:
                            ts = int.from_bytes(data[j + 28:j + 32], "big")
                            dur = int.from_bytes(data[j + 32:j + 40], "big")
                        else:
                            ts = int.from_bytes(data[j + 20:j + 24], "big")
                            dur = int.from_bytes(data[j + 24:j + 28], "big")
                        if ts > 0:
                            return {"width": 0, "height": 0, "n_frames": 1,
                                    "duration_s": round(dur / ts, 3)}
                    if slen < 8:
                        break
                    j += slen
            i += blen
    return None


def _png_decode(data: bytes):
    """Pure-stdlib PNG pixel decode: chunk walk → zlib inflate →
    per-row unfiltering (PNG spec §6: None/Sub/Up/Average/Paeth).
    Supports 8-bit greyscale (color type 0), RGB (2) and RGBA (6),
    non-interlaced. Returns an (h, w, channels) uint8 ndarray, or
    None for any other PNG flavor or non-PNG bytes (callers fall
    back). Sub unfiltering is a vectorized per-channel-phase cumsum;
    Average/Paeth are genuinely recursive along x and run a per-row
    loop (our own encoder emits filter 0, so round trips never pay
    it)."""
    import zlib

    import numpy as np
    if len(data) < 33 or data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    w = int.from_bytes(data[16:20], "big")
    h = int.from_bytes(data[20:24], "big")
    bit_depth, color_type, _c, _f, interlace = data[24:29]
    channels = {0: 1, 2: 3, 6: 4}.get(color_type)
    if bit_depth != 8 or channels is None or interlace != 0 \
            or not w or not h:
        return None
    idat, i = bytearray(), 8
    while i + 8 <= len(data):
        clen = int.from_bytes(data[i:i + 4], "big")
        ctyp = data[i + 4:i + 8]
        if ctyp == b"IDAT":
            idat += data[i + 8:i + 8 + clen]
        if ctyp == b"IEND":
            break
        i += 12 + clen
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = w * channels
    if len(raw) != h * (stride + 1):
        return None
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters, rows = raw[:, 0], raw[:, 1:]
    bpp = channels
    fset = set(np.unique(filters).tolist())
    if not fset <= {0, 1, 2, 3, 4}:
        return None
    # Bulk unfilter paths (r12, guide §4.2 — the unfilter is the
    # decoder's per-row Python loop; these three filter classes cover
    # every PNG our own encoder or any filter-0/Sub/Up producer
    # emits, and uint8 wraparound IS the spec's mod-256 arithmetic):
    # - all None: the inflated bytes are the pixels
    # - Sub rows depend only on their own row: one uint8
    #   add-accumulate along x over all such rows at once
    # - Up runs depend only on the segment-starting resolved row: one
    #   uint8 add-accumulate along y per run
    # Average/Paeth recurse on both neighbors; those keep the loop.
    if fset <= {0, 1, 2}:
        out = rows.copy()  # writable: frombuffer views are read-only
        if 1 in fset:
            sub = filters == 1
            seg = out[sub].reshape(-1, w, bpp)
            np.add.accumulate(seg, axis=1, dtype=np.uint8, out=seg)
            out[sub] = seg.reshape(-1, stride)
        if 2 in fset:
            starts = np.flatnonzero(filters != 2)
            if filters[0] == 2:  # implicit zero row above the image
                starts = np.concatenate(([0], starts))
            bounds = np.append(starts, h)
            for i, s in enumerate(starts):
                e = bounds[i + 1]
                if e - s > 1:
                    np.add.accumulate(out[s:e], axis=0,
                                      dtype=np.uint8, out=out[s:e])
        return out.reshape(h, w, channels)
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = int(filters[y])
        cur = rows[y].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(
            stride, np.int32)
        if f == 0:
            rec = cur
        elif f == 1:  # Sub: prefix sum per channel phase
            rec = cur
            for p in range(bpp):
                rec[p::bpp] = np.cumsum(rec[p::bpp]) & 0xFF
        elif f == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif f == 3:  # Average
            rec = cur
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            rec = cur
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc
                                                      else c)
                rec[x] = (rec[x] + pr) & 0xFF
        else:
            return None
        out[y] = rec.astype(np.uint8)
    return out.reshape(h, w, channels)


def _bmp_decode(data: bytes):
    """Pure-stdlib BMP pixel decode: uncompressed BI_RGB, 24/32-bit,
    bottom-up or top-down rows (4-byte padded, BGR(A) order). Returns
    an (h, w, 3|4) uint8 RGB(A) ndarray, or None for palette/RLE/
    other-depth BMPs and non-BMP bytes."""
    import numpy as np
    if len(data) < 54 or data[:2] != b"BM":
        return None
    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h_raw = int.from_bytes(data[22:26], "little", signed=True)
    bitcount = int.from_bytes(data[28:30], "little")
    compression = int.from_bytes(data[30:34], "little")
    if compression != 0 or bitcount not in (24, 32) or w <= 0 \
            or h_raw == 0:
        return None
    h = abs(h_raw)
    ch = bitcount // 8
    stride = (w * ch + 3) & ~3
    if off + stride * h > len(data):
        return None
    rows = np.frombuffer(data[off:off + stride * h],
                         dtype=np.uint8).reshape(h, stride)
    px = rows[:, :w * ch].reshape(h, w, ch)
    if h_raw > 0:
        px = px[::-1]  # bottom-up storage
    # BGR(A) → RGB(A)
    out = px[..., [2, 1, 0] + ([3] if ch == 4 else [])]
    return np.ascontiguousarray(out)


def _gif_lzw(data: bytes, min_code: int, max_pixels: int):
    """GIF-variant LZW decode (LSB-first packed codes, CLEAR/END
    codes, dictionary grows to 4096 then freezes until CLEAR).
    Returns a list of palette indices, or None on a corrupt stream."""
    clear = 1 << min_code
    end = clear + 1
    table: dict[int, tuple] = {i: (i,) for i in range(clear)}
    next_code = end + 1
    code_size = min_code + 1
    out: list[int] = []
    prev = None
    bitpos = 0
    total_bits = len(data) * 8
    while len(out) < max_pixels:
        if bitpos + code_size > total_bits:
            break
        bi, bo = divmod(bitpos, 8)
        c = (int.from_bytes(data[bi:bi + 3], "little") >> bo) \
            & ((1 << code_size) - 1)
        bitpos += code_size
        if c == end:
            break
        if c == clear:
            table = {i: (i,) for i in range(clear)}
            next_code = end + 1
            code_size = min_code + 1
            prev = None
            continue
        if prev is None:
            entry = table.get(c)
            if entry is None:
                return None
            out.extend(entry)
            prev = entry
            continue
        if c in table:
            entry = table[c]
        elif c == next_code:
            entry = prev + (prev[0],)  # the KwKwK case
        else:
            return None
        out.extend(entry)
        if next_code < 4096:
            table[next_code] = prev + (entry[0],)
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    return out


def _gif_decode(data: bytes):
    """Pure-stdlib GIF pixel decode: logical screen descriptor,
    global/local color table, first image frame through LZW
    (``_gif_lzw``), 4-pass de-interlace. Returns the FIRST frame as
    an (h, w, 3) uint8 RGB array (transparency index renders as its
    palette color), or None for corrupt/table-less streams."""
    import numpy as np
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        return None

    def le16(i):
        return int.from_bytes(data[i:i + 2], "little")

    packed = data[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if pos + 3 * n > len(data):
            return None
        gct = np.frombuffer(data[pos:pos + 3 * n],
                            np.uint8).reshape(n, 3)
        pos += 3 * n
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer before any image
            return None
        if b == 0x21:  # extension: label byte + sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(data):
                return None
            w, h = le16(pos + 5), le16(pos + 7)
            ip = data[pos + 9]
            pos += 10
            lct = gct
            if ip & 0x80:
                n = 2 << (ip & 7)
                if pos + 3 * n > len(data):
                    return None
                lct = np.frombuffer(data[pos:pos + 3 * n],
                                    np.uint8).reshape(n, 3)
                pos += 3 * n
            if lct is None or not w or not h or pos >= len(data):
                return None
            min_code = data[pos]
            pos += 1
            if not (2 <= min_code <= 11):
                return None
            chunks = []
            while pos < len(data) and data[pos] != 0:
                ln = data[pos]
                chunks.append(data[pos + 1:pos + 1 + ln])
                pos += 1 + ln
            idx = _gif_lzw(b"".join(chunks), min_code, w * h)
            if idx is None or len(idx) < w * h:
                return None
            rows = np.clip(np.array(idx[:w * h], np.int32), 0,
                           len(lct) - 1).reshape(h, w)
            if ip & 0x40:  # interlaced: 4-pass row order
                order = ([*range(0, h, 8)] + [*range(4, h, 8)]
                         + [*range(2, h, 4)] + [*range(1, h, 2)])
                de = np.empty_like(rows)
                de[order] = rows[range(h)]
                rows = de
            return np.ascontiguousarray(lct[rows])
        else:
            return None
    return None


# JPEG constants (ITU-T T.81, public standard): zigzag scan order,
# Annex-K quantization tables (natural order here; serialized and
# parsed in zigzag order per the DQT wire format) and the Annex-K
# typical Huffman tables (BITS counts per code length 1..16 +
# HUFFVAL symbol lists).
_ZIGZAG = (0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
           12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21,
           28, 35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37,
           44, 51, 58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47,
           55, 62, 63)
_Q_LUMA = (16, 11, 10, 16, 24, 40, 51, 61,
           12, 12, 14, 19, 26, 58, 60, 55,
           14, 13, 16, 24, 40, 57, 69, 56,
           14, 17, 22, 29, 51, 87, 80, 62,
           18, 22, 37, 56, 68, 109, 103, 77,
           24, 35, 55, 64, 81, 104, 113, 92,
           49, 64, 78, 87, 103, 121, 120, 101,
           72, 92, 95, 98, 112, 100, 103, 99)
_Q_CHROMA = (17, 18, 24, 47, 99, 99, 99, 99,
             18, 21, 26, 66, 99, 99, 99, 99,
             24, 26, 56, 99, 99, 99, 99, 99,
             47, 66, 99, 99, 99, 99, 99, 99,
             99, 99, 99, 99, 99, 99, 99, 99,
             99, 99, 99, 99, 99, 99, 99, 99,
             99, 99, 99, 99, 99, 99, 99, 99,
             99, 99, 99, 99, 99, 99, 99, 99)
_H_DC_L = ((0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
           tuple(range(12)))
_H_DC_C = ((0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
           tuple(range(12)))
_H_AC_L = ((0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D), (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA))
_H_AC_C = ((0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77), (
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA))


def _dct_matrix():
    """Orthonormal 8x8 DCT-II basis T with T[u, x] = c(u)·cos((2x+1)uπ/16):
    forward F = T f Tᵀ, inverse f = Tᵀ F T (einsum-vectorized over
    block stacks)."""
    import numpy as np
    x = np.arange(8)
    t = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    t[0] *= np.sqrt(1 / 8)
    t[1:] *= np.sqrt(2 / 8)
    return t


def _huff_decode_table(bits, vals):
    """JPEG canonical Huffman (T.81 C.2): codes assigned sequentially
    per length. Returns {(length, code): symbol}."""
    table, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_encode_table(bits, vals):
    """Inverse of ``_huff_decode_table``: {symbol: (code, length)}."""
    return {sym: (code, ln)
            for (ln, code), sym in _huff_decode_table(bits, vals).items()}


class _JBitReader:
    """MSB-first bit reader over un-stuffed entropy bytes."""

    __slots__ = ("d", "n", "pos")

    def __init__(self, data: bytes):
        self.d = data
        self.n = len(data) * 8
        self.pos = 0

    def read1(self) -> int | None:
        if self.pos >= self.n:
            return None
        b = (self.d[self.pos >> 3] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return b

    def read(self, n: int) -> int | None:
        v = 0
        for _ in range(n):
            b = self.read1()
            if b is None:
                return None
            v = (v << 1) | b
        return v


def _jpeg_read_huff(bits: _JBitReader, table) -> int | None:
    code = 0
    for ln in range(1, 17):
        b = bits.read1()
        if b is None:
            return None
        code = (code << 1) | b
        got = table.get((ln, code))
        if got is not None:
            return got
    return None


def _jpeg_extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a t-bit magnitude field to its signed
    value."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _jpeg_decode(data: bytes):
    """Pure-Python baseline JPEG decode (ITU-T T.81): marker walk
    (DQT/DHT/SOF0-1/DRI/SOS), canonical-Huffman entropy decode with
    byte un-stuffing and restart-marker segments, dequantize,
    einsum-vectorized inverse DCT, chroma upsample for the standard
    subsamplings (4:4:4/4:2:2/4:2:0/grayscale), BT.601 YCbCr→RGB.
    Returns an (h, w, 1|3) uint8 array, or None for progressive /
    arithmetic / 12-bit / corrupt streams (callers fall back). The
    entropy loop is Python-per-bit — exact but sized for planted
    fixtures and small-image corpora; PIL remains the production
    extension point for throughput."""
    import numpy as np
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        return None
    qt: dict[int, object] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    comps = None
    w = h = restart = 0
    scan = None
    try:
        i = 2
        while i + 2 <= len(data):
            if data[i] != 0xFF:
                return None
            m = data[i + 1]
            if m == 0xD9:
                break
            if m in (0x01, 0xD8) or 0xD0 <= m <= 0xD7:
                i += 2
                continue
            if i + 4 > len(data):
                return None
            seg_len = int.from_bytes(data[i + 2:i + 4], "big")
            seg = data[i + 4:i + 2 + seg_len]
            if m == 0xDB:  # DQT: zigzag-order entries, 8- or 16-bit
                p = 0
                while p < len(seg):
                    pq, tq = seg[p] >> 4, seg[p] & 15
                    p += 1
                    nb = 128 if pq else 64
                    raw = seg[p:p + nb]
                    if len(raw) < nb:
                        return None
                    p += nb
                    vals = ([int.from_bytes(raw[2 * k:2 * k + 2], "big")
                             for k in range(64)] if pq else list(raw))
                    t = np.zeros(64, np.int32)
                    for k in range(64):
                        t[_ZIGZAG[k]] = vals[k]
                    qt[tq] = t.reshape(8, 8)
            elif m == 0xC4:  # DHT
                p = 0
                while p + 17 <= len(seg):
                    tc, th = seg[p] >> 4, seg[p] & 15
                    bits = list(seg[p + 1:p + 17])
                    nv = sum(bits)
                    vals = list(seg[p + 17:p + 17 + nv])
                    if len(vals) < nv:
                        return None
                    (huff_dc if tc == 0 else
                     huff_ac)[th] = _huff_decode_table(bits, vals)
                    p += 17 + nv
            elif m in (0xC0, 0xC1):  # baseline / extended sequential
                if seg[0] != 8:
                    return None
                h = int.from_bytes(seg[1:3], "big")
                w = int.from_bytes(seg[3:5], "big")
                nc = seg[5]
                if nc not in (1, 3) or len(seg) < 6 + 3 * nc:
                    return None
                comps = [{"id": seg[6 + 3 * c],
                          "h": seg[7 + 3 * c] >> 4,
                          "v": seg[7 + 3 * c] & 15,
                          "tq": seg[8 + 3 * c]} for c in range(nc)]
            elif 0xC2 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
                return None  # progressive/arithmetic/lossless
            elif m == 0xDD:  # DRI
                restart = int.from_bytes(seg[:2], "big")
            elif m == 0xDA:  # SOS: bind huffman selectors, find scan
                if comps is None or not seg:
                    return None
                ns = seg[0]
                sel = {seg[1 + 2 * c]: (seg[2 + 2 * c] >> 4,
                                        seg[2 + 2 * c] & 15)
                       for c in range(ns)}
                for comp in comps:
                    if comp["id"] not in sel:
                        return None
                    comp["td"], comp["ta"] = sel[comp["id"]]
                scan = data[i + 2 + seg_len:]
                break
            i += 2 + seg_len
        if scan is None or not w or not h or comps is None:
            return None
        for comp in comps:
            if comp["tq"] not in qt or comp["td"] not in huff_dc \
                    or comp["ta"] not in huff_ac \
                    or not (1 <= comp["h"] <= 4 and 1 <= comp["v"] <= 4):
                return None
        # un-stuff FF00 and split the scan on restart markers
        segs: list[bytearray] = [bytearray()]
        p = 0
        while p < len(scan):
            b = scan[p]
            if b == 0xFF:
                nxt = scan[p + 1] if p + 1 < len(scan) else 0xD9
                if nxt == 0x00:
                    segs[-1].append(0xFF)
                    p += 2
                    continue
                if 0xD0 <= nxt <= 0xD7:
                    segs.append(bytearray())
                    p += 2
                    continue
                break  # EOI / next marker
            segs[-1].append(b)
            p += 1
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        if any(hmax % c["h"] or vmax % c["v"] for c in comps):
            return None
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        for comp in comps:
            comp["bw"] = mcux * comp["h"]
            comp["bh"] = mcuy * comp["v"]
            comp["coef"] = np.zeros((comp["bh"] * comp["bw"], 64),
                                    np.int32)
        seg_i = 0
        bits = _JBitReader(bytes(segs[0]))
        preds = [0] * len(comps)
        for mcu in range(mcux * mcuy):
            if restart and mcu and mcu % restart == 0:
                seg_i += 1
                if seg_i >= len(segs):
                    return None
                bits = _JBitReader(bytes(segs[seg_i]))
                preds = [0] * len(comps)
            my, mx = divmod(mcu, mcux)
            for ci, comp in enumerate(comps):
                for vy in range(comp["v"]):
                    for hx in range(comp["h"]):
                        blk = ((my * comp["v"] + vy) * comp["bw"]
                               + mx * comp["h"] + hx)
                        row = comp["coef"][blk]
                        t = _jpeg_read_huff(bits, huff_dc[comp["td"]])
                        if t is None or t > 15:
                            return None
                        if t:
                            v = bits.read(t)
                            if v is None:
                                return None
                            preds[ci] += _jpeg_extend(v, t)
                        row[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = _jpeg_read_huff(bits,
                                                 huff_ac[comp["ta"]])
                            if rs is None:
                                return None
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r != 15:
                                    break  # EOB
                                k += 16
                                continue
                            k += r
                            if k > 63:
                                return None
                            v = bits.read(s)
                            if v is None:
                                return None
                            row[_ZIGZAG[k]] = _jpeg_extend(v, s)
                            k += 1
        # dequantize + IDCT + assemble + upsample, all vectorized
        dct = _dct_matrix()
        planes = []
        for comp in comps:
            fq = (comp["coef"].reshape(-1, 8, 8)
                  * qt[comp["tq"]][None, :, :]).astype(np.float64)
            sp = np.einsum("ux,vy,nuv->nxy", dct, dct, fq) + 128.0
            plane = (sp.reshape(comp["bh"], comp["bw"], 8, 8)
                     .transpose(0, 2, 1, 3)
                     .reshape(comp["bh"] * 8, comp["bw"] * 8))
            plane = np.repeat(np.repeat(plane, vmax // comp["v"],
                                        axis=0),
                              hmax // comp["h"], axis=1)
            planes.append(plane[:h, :w])
        if len(planes) == 1:
            out = planes[0][..., None]
        else:
            y, cb, cr = planes
            out = np.stack([y + 1.402 * (cr - 128.0),
                            y - 0.344136 * (cb - 128.0)
                            - 0.714136 * (cr - 128.0),
                            y + 1.772 * (cb - 128.0)], axis=-1)
        return np.clip(np.round(out), 0, 255).astype(np.uint8)
    except (IndexError, ValueError):
        return None


class _JBitWriter:
    """MSB-first bit writer with JPEG 0xFF byte stuffing."""

    __slots__ = ("buf", "acc", "n")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, ln: int) -> None:
        for i in range(ln - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:  # pad to byte with 1-bits (T.81 F.1.2.3)
        while self.n:
            self.put(1, 1)


def _jpeg_encode(arr, quality: int = 85, subsample: bool = False,
                 restart: int = 0) -> bytes:
    """Pure-Python baseline JPEG encode of an (h, w, 1|3) uint8 array:
    BT.601 RGB→YCbCr, edge-replicated padding, einsum forward DCT,
    Annex-K quantization tables scaled by ``quality`` (libjpeg's
    50-point linear scaling), Annex-K typical Huffman tables, optional
    2x2-averaged 4:2:0 chroma subsampling and DRI/RSTn restart
    intervals — the self-test twin of ``_jpeg_decode`` and a valid
    interchange-format stream for any JPEG reader. AC coefficients
    clamp to ±1023 (the largest magnitude baseline AC Huffman codes
    carry)."""
    import struct

    import numpy as np
    h, w, ch = arr.shape
    if ch not in (1, 3):
        raise ValueError("JPEG encode expects 1 or 3 channels")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    qts = []
    for base in (_Q_LUMA, _Q_CHROMA)[: (2 if ch == 3 else 1)]:
        t = np.clip((np.array(base, np.int64) * scale + 50) // 100,
                    1, 255).astype(np.int32)
        qts.append(t.reshape(8, 8))
    dct = _dct_matrix()

    a = arr.astype(np.float64)
    if ch == 3:
        r, g, b = a[..., 0], a[..., 1], a[..., 2]
        planes = [0.299 * r + 0.587 * g + 0.114 * b,
                  128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
                  128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b]
    else:
        planes = [a[..., 0]]
    sub = subsample and ch == 3
    if sub:  # 4:2:0 — 2x2 mean over an edge-padded-to-even plane
        for k in (1, 2):
            p = planes[k]
            p = np.pad(p, ((0, p.shape[0] & 1), (0, p.shape[1] & 1)),
                       mode="edge")
            planes[k] = (p.reshape(p.shape[0] // 2, 2,
                                   p.shape[1] // 2, 2)
                         .mean(axis=(1, 3)))
    samp = [(2, 2), (1, 1), (1, 1)] if sub else [(1, 1)] * ch
    hmax = max(s[0] for s in samp[:ch])
    vmax = max(s[1] for s in samp[:ch])
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    comp_blocks = []
    for k in range(ch):
        ph, pw = planes[k].shape
        tw, th = mcux * samp[k][0] * 8, mcuy * samp[k][1] * 8
        p = np.pad(planes[k], ((0, th - ph), (0, tw - pw)), mode="edge")
        blocks = (p.reshape(th // 8, 8, tw // 8, 8)
                  .transpose(0, 2, 1, 3))  # (by, bx, 8, 8)
        f = np.einsum("ux,vy,bcxy->bcuv", dct, dct, blocks - 128.0)
        q = qts[min(k, 1)][None, None]
        coef = np.round(f / q).astype(np.int32)
        coef[..., 1:, :] = np.clip(coef[..., 1:, :], -1023, 1023)
        coef[..., :, 1:] = np.clip(coef[..., :, 1:], -1023, 1023)
        comp_blocks.append(coef)

    enc_dc = [_huff_encode_table(*_H_DC_L),
              _huff_encode_table(*_H_DC_C)]
    enc_ac = [_huff_encode_table(*_H_AC_L),
              _huff_encode_table(*_H_AC_C)]

    def emit_block(wtr, coef, pred, tdc, tac):
        diff = int(coef[0, 0]) - pred
        t = abs(diff).bit_length()
        code, ln = enc_dc[tdc][t]
        wtr.put(code, ln)
        if t:
            wtr.put(diff if diff > 0 else diff + (1 << t) - 1, t)
        zz = [int(coef.flat[_ZIGZAG[k]]) for k in range(64)]
        run = 0
        last = max((k for k in range(1, 64) if zz[k]), default=0)
        for k in range(1, last + 1):
            v = zz[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = enc_ac[tac][0xF0]
                wtr.put(code, ln)
                run -= 16
            s = abs(v).bit_length()
            code, ln = enc_ac[tac][(run << 4) | s]
            wtr.put(code, ln)
            wtr.put(v if v > 0 else v + (1 << s) - 1, s)
            run = 0
        if last < 63:
            code, ln = enc_ac[tac][0x00]
            wtr.put(code, ln)
        return int(coef[0, 0])

    out = bytearray(b"\xff\xd8")  # SOI
    for ti, q in enumerate(qts):  # DQT (zigzag wire order)
        zz = bytes(int(q.flat[_ZIGZAG[k]]) for k in range(64))
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([ti]) + zz
    out += (b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ch, 8, h, w, ch)
            + b"".join(struct.pack(
                "BBB", k + 1, (samp[k][0] << 4) | samp[k][1], min(k, 1))
                for k in range(ch)))
    for tc, th, (bits, vals) in ((0, 0, _H_DC_L), (1, 0, _H_AC_L),
                                 (0, 1, _H_DC_C), (1, 1, _H_AC_C)):
        if th == 1 and ch == 1:
            continue
        payload = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    out += (b"\xff\xda" + struct.pack(">HB", 6 + 2 * ch, ch)
            + b"".join(struct.pack("BB", k + 1,
                                   (min(k, 1) << 4) | min(k, 1))
                       for k in range(ch))
            + b"\x00\x3f\x00")
    wtr = _JBitWriter()
    preds = [0] * ch
    rst = 0
    for mcu in range(mcux * mcuy):
        if restart and mcu and mcu % restart == 0:
            wtr.flush()
            out += wtr.buf + bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            wtr = _JBitWriter()
            preds = [0] * ch
        my, mx = divmod(mcu, mcux)
        for k in range(ch):
            for vy in range(samp[k][1]):
                for hx in range(samp[k][0]):
                    coef = comp_blocks[k][my * samp[k][1] + vy,
                                          mx * samp[k][0] + hx]
                    preds[k] = emit_block(wtr, coef, preds[k],
                                          min(k, 1), min(k, 1))
    wtr.flush()
    out += wtr.buf + b"\xff\xd9"
    return bytes(out)


def _pixels_decode(data: bytes):
    """The ``backend='pixels'`` image decode ladder: PNG, BMP, GIF,
    then baseline JPEG — every still-image format the reference-shaped
    corpora carry, covered by dependency-free decoders. Returns an
    (h, w, ch) uint8 array or None."""
    arr = _png_decode(data)
    if arr is None:
        arr = _bmp_decode(data)
    if arr is None:
        arr = _gif_decode(data)
    if arr is None:
        arr = _jpeg_decode(data)
    return arr


def _wav_decode(data: bytes):
    """Pure-stdlib WAV PCM sample decode: RIFF chunk walk to fmt/data,
    integer PCM (format 1) at 8/16/32-bit, any channel count
    (downmixed to mono). Returns a float64 1-D array in [-1, 1], or
    None for compressed/float WAV and non-WAV bytes."""
    import numpy as np
    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    i, fmt, bits, n_ch, pcm = 12, None, 0, 0, None
    while i + 8 <= len(data):
        cid = data[i:i + 4]
        clen = int.from_bytes(data[i + 4:i + 8], "little")
        body = data[i + 8:i + 8 + clen]
        if cid == b"fmt " and len(body) >= 16:
            fmt = int.from_bytes(body[0:2], "little")
            n_ch = int.from_bytes(body[2:4], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            pcm = body
        i += 8 + clen + (clen & 1)
    if fmt != 1 or pcm is None or n_ch < 1 \
            or bits not in (8, 16, 32):
        return None
    if bits == 8:  # unsigned
        s = (np.frombuffer(pcm, dtype=np.uint8).astype(np.float64)
             - 128.0) / 128.0
    else:
        dt = np.int16 if bits == 16 else np.int32
        usable = len(pcm) - len(pcm) % np.dtype(dt).itemsize
        s = (np.frombuffer(pcm[:usable], dtype=dt).astype(np.float64)
             / float(2 ** (bits - 1)))
    usable = len(s) - len(s) % n_ch
    if usable == 0:
        return None
    return s[:usable].reshape(-1, n_ch).mean(axis=1)


def _png_encode(arr) -> bytes:
    """Pure-stdlib PNG encode of an (h, w, channels) uint8 array:
    filter 0 rows, one zlib IDAT. channels 1/3/4 → color type
    0/2/6."""
    import struct
    import zlib
    h, w, ch = arr.shape
    color_type = {1: 0, 3: 2, 4: 6}[ch]

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + typ + payload
                + struct.pack(">I", zlib.crc32(typ + payload)
                              & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    # one interleave instead of h per-row Python concatenations; the
    # bytes fed to zlib (filter byte 0 + row) are identical
    import numpy as np
    body = np.empty((h, w * ch + 1), dtype=np.uint8)
    body[:, 0] = 0
    body[:, 1:] = np.asarray(arr, dtype=np.uint8).reshape(h, w * ch)
    raw = body.tobytes()
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b""))


def _pil_decode(data: bytes) -> dict | None:
    import io
    import PIL.Image
    try:
        with PIL.Image.open(io.BytesIO(data)) as img:
            return {"width": int(img.width), "height": int(img.height),
                    "n_frames": int(getattr(img, "n_frames", 1)),
                    "duration_s": 0.0}
    except Exception:
        return None


def decode_media(df: DataFrame, binary_col: str = "media",
                 backend: str = "auto") -> DataFrame:
    """Decode media headers to typed columns via mapInPandas.

    Backends:
    - ``"auto"`` (default) — PIL when importable (probed on the
      executor, per batch-iterator), else the dependency-free header
      parser (PNG/JPEG/GIF/BMP); unrecognized blobs fall back to the
      deterministic stub so the pipeline never throws mid-corpus.
    - ``"headers"`` — force the pure-Python parser (+stub fallback).
    - ``"stub"`` — deterministic fake only (fixture-friendly).
    - ``"real"`` — require PIL; raises ImportError where absent, and
      remains the marked extension point for av codecs (ffprobe)."""
    if backend not in ("auto", "headers", "stub", "real"):
        raise ValueError(backend)
    if backend == "real" and not _pil_available():
        raise NotImplementedError(
            "backend='real' requires PIL (and ffprobe for av) — not "
            "available in this container; use backend='auto' for the "
            "dependency-free header parser")
    passthrough = [c for c in df.columns if c != binary_col]
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name != binary_col)
    out_schema = out_schema + ", " + DECODED_SCHEMA

    def decode_one(data: bytes, use_pil: bool) -> dict:
        if backend != "stub":
            got = (_pil_decode(data) if use_pil
                   else _parse_image_header(data))
            if got is None and use_pil:
                got = _parse_image_header(data)
            if got is None:
                got = _parse_av_header(data)
            if got is not None:
                return got
            if backend == "real":
                raise ValueError("undecodable media row")
        return _fake_decode(data)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        use_pil = backend in ("auto", "real") and _pil_available()
        for pdf in batches:
            decoded = pd.DataFrame(
                [decode_one(b if b is not None else b"", use_pil)
                 for b in pdf[binary_col]])
            yield pd.concat(
                [pdf[passthrough].reset_index(drop=True), decoded], axis=1)

    return df.mapInPandas(run, out_schema)


def resize_media(df: DataFrame, width: int, height: int,
                 binary_col: str = "media",
                 backend: str = "stub") -> DataFrame:
    """Resize via mapInPandas, binary→binary with target dimensions
    and the codec used attached.

    - ``backend="pixels"`` — REAL resize for PNG/BMP/GIF/baseline-JPEG
      rows: pure-Python decode ladder (``_pixels_decode``),
      nearest-neighbor index sampling, filter-0 PNG re-encode. Rows
      no ladder codec can decode keep the stub transformation and
      are marked ``codec='stub'`` (the pipeline never throws
      mid-corpus).
    - ``backend="stub"`` — deterministic byte transformation only
      (length scales with the pixel ratio): batch shapes, memory
      profile and schema exercised without any codec.
    - ``backend="real"`` — the PIL/ffmpeg extension point for
      formats the pure-Python ladder can't reach (progressive JPEG,
      video)."""
    if backend == "real":
        raise NotImplementedError(
            "real resize (PIL/ffmpeg) not available in this container"
            " — backend='pixels' covers PNG/BMP/GIF/baseline JPEG via"
            " the pure-Python ladder")
    if backend not in ("stub", "pixels"):
        raise ValueError(backend)
    passthrough = [c for c in df.columns if c != binary_col]
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name != binary_col)
    out_schema += (f", `{binary_col}` binary, out_width int, "
                   "out_height int, codec string")

    def stub_bytes(b: bytes) -> bytes:
        return bytes((b or b"")[: max(1, (width * height) // 1024) or 1])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in batches:
            resized, codecs = [], []
            for b in pdf[binary_col]:
                arr = _pixels_decode(b or b"") if backend == "pixels" \
                    else None
                if arr is not None:
                    h0, w0 = arr.shape[:2]
                    ys = np.arange(height) * h0 // height
                    xs = np.arange(width) * w0 // width
                    # output normalized to PNG regardless of the
                    # input container (pipelines re-encode uniformly)
                    resized.append(_png_encode(
                        np.ascontiguousarray(arr[ys][:, xs])))
                    head = bytes((b or b"")[:6])
                    codecs.append(
                        "bmp" if head[:2] == b"BM" else
                        "gif" if head[:3] == b"GIF" else
                        "jpeg" if head[:2] == b"\xff\xd8" else "png")
                else:
                    resized.append(stub_bytes(b))
                    codecs.append("stub")
            out = pdf[passthrough].reset_index(drop=True)
            out[binary_col] = resized
            out["out_width"] = width
            out["out_height"] = height
            out["codec"] = codecs
            yield out

    return df.mapInPandas(run, out_schema)


EMBED_DIM = 64


def extract_features(df: DataFrame, binary_col: str = "media",
                     out_col: str = "embedding",
                     backend: str = "stub") -> DataFrame:
    """Feature extraction: binary → unit-norm float vector (the
    embedding column the similarity ops consume — binary in, ANN-ready
    out).

    - ``backend="pixels"`` — REAL content features where a
      pure-Python decode exists: PNG/BMP/GIF/baseline-JPEG pixels →
      BT.601 luma → 8x8 block-mean thumbnail; WAV PCM samples →
      64-window RMS envelope
      (log-compressed) — both centered, unit-normalized 64-dim
      vectors, so identical content maps to cosine ~1 REGARDLESS of
      container and the embedding dedup/ANN ops work on real
      image/audio content. Undecodable rows fall back to the
      deterministic stub vector.
    - ``backend="stub"`` — deterministic bytes-seeded vector only.
    - ``backend="real"`` — the model-inference extension point (batch
      the bytes through an ONNX/torch session here)."""
    if backend == "real":
        raise NotImplementedError(
            "real feature extraction (model inference) not available "
            "in this container — backend='pixels' computes real "
            "thumbnail features for PNG/BMP/GIF/baseline JPEG/WAV")
    if backend not in ("stub", "pixels"):
        raise ValueError(backend)
    import numpy as np
    passthrough = [c for c in df.columns if c != binary_col]
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name != binary_col)
    out_schema += f", `{out_col}` array<float>"

    def stub_vec(b: bytes):
        seed = int.from_bytes((b or b"\0")[:8].ljust(8, b"\0"),
                              "little") % (2 ** 32)
        v = np.random.RandomState(seed).standard_normal(EMBED_DIM)
        return (v / np.linalg.norm(v)).astype("float32")

    def thumb_vec(arr):
        # luma → 8x8 block means (cell boundaries by integer grid) →
        # center → unit norm; a constant image centers to zero, where
        # the first basis vector stands in (deterministic)
        a = arr.astype(np.float64)
        luma = (a[..., 0] if a.shape[2] == 1 else
                0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2])
        h0, w0 = luma.shape
        yb = (np.arange(9) * h0) // 8
        xb = (np.arange(9) * w0) // 8
        cells = np.array([
            luma[yb[i]:max(yb[i + 1], yb[i] + 1),
                 xb[j]:max(xb[j + 1], xb[j] + 1)].mean()
            for i in range(8) for j in range(8)])
        v = cells - cells.mean()
        n = np.linalg.norm(v)
        if n == 0:
            v = np.zeros(EMBED_DIM)
            v[0] = 1.0
            return v.astype("float32")
        return (v / n).astype("float32")

    def audio_vec(samples):
        # 64 equal time-window RMS energies (log-compressed) →
        # centered unit vector: the waveform-envelope twin of the
        # image thumbnail — identical audio content maps to cosine 1
        # regardless of container details; silence (zero envelope)
        # falls to the first basis vector, like a constant image
        n = len(samples)
        bounds = (np.arange(EMBED_DIM + 1) * n) // EMBED_DIM
        rms = np.array([
            np.sqrt(np.mean(np.square(
                samples[bounds[i]:max(bounds[i + 1], bounds[i] + 1)])))
            for i in range(EMBED_DIM)])
        v = np.log1p(rms * 1000.0)
        v = v - v.mean()
        nv = np.linalg.norm(v)
        if nv == 0:
            v = np.zeros(EMBED_DIM)
            v[0] = 1.0
            return v.astype("float32")
        return (v / nv).astype("float32")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = []
            for b in pdf[binary_col]:
                vec = None
                if backend == "pixels":
                    arr = _pixels_decode(b or b"")
                    if arr is not None:
                        vec = thumb_vec(arr)
                    else:
                        samples = _wav_decode(b or b"")
                        if samples is not None:
                            vec = audio_vec(samples)
                vecs.append(vec if vec is not None else stub_vec(b))
            out = pdf[passthrough].reset_index(drop=True)
            out[out_col] = vecs
            yield out

    return df.mapInPandas(run, out_schema)

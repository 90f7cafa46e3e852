"""Regression tests for the vectorized PNG unfilter paths in
``_png_decode`` (r12: bulk all-None / Sub / Up-run handling replaced
the per-row loop for filter sets within {0,1,2}; Average/Paeth keep
the loop). The reference here is an independent scalar *forward*
filterer straight from the PNG spec (§6) used to build streams with
chosen per-row filters — decode must invert it exactly for every
filter mix, so any regression in either the bulk or the loop path
fails loudly. Also pins the encoder's byte-identity (filter-0 rows +
one zlib IDAT), which the frozen oracle hashes of the planted
multimodal entries depend on."""
import struct
import zlib

import numpy as np

from octosql_spark.datapipe.multimodal import _png_decode, _png_encode


def _ref_filter_row(cur, prev, f, bpp):
    n = len(cur)
    out = np.zeros(n, np.int32)
    for x in range(n):
        a = int(cur[x - bpp]) if x >= bpp else 0
        b = int(prev[x])
        c = int(prev[x - bpp]) if x >= bpp else 0
        v = int(cur[x])
        if f == 0:
            out[x] = v
        elif f == 1:
            out[x] = (v - a) % 256
        elif f == 2:
            out[x] = (v - b) % 256
        elif f == 3:
            out[x] = (v - ((a + b) >> 1)) % 256
        else:  # 4, Paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out[x] = (v - pr) % 256
    return out.astype(np.uint8)


def _make_png(pixels, filters):
    h, w, ch = pixels.shape
    color_type = {1: 0, 3: 2, 6: 6, 4: 6}[ch]
    flat = pixels.reshape(h, w * ch)
    raw = bytearray()
    prev = np.zeros(w * ch, np.uint8)
    for y in range(h):
        raw.append(filters[y])
        raw += _ref_filter_row(flat[y], prev, filters[y], ch).tobytes()
        prev = flat[y]

    def chunk(typ, payload):
        return (struct.pack(">I", len(payload)) + typ + payload
                + struct.pack(">I",
                              zlib.crc32(typ + payload) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + chunk(b"IEND", b""))


def test_unfilter_every_filter_mix_inverts_reference():
    rng = np.random.RandomState(42)
    # h == 1: a single row is a contiguous view of the read-only
    # inflated buffer, so the bulk paths must copy before writing
    for ch, h in ((1, 13), (3, 13), (4, 13), (3, 1), (4, 1)):
        px = rng.randint(0, 256, size=(h, 9, ch), dtype=np.uint8)
        for filters in (
                [0] * h,                                  # bulk: plain
                [1] * h,                                  # bulk: Sub
                [2] * h,                                  # Up from row 0
                [0] + [2] * (h - 1),                      # one long Up run
                [(0, 1, 2)[y % 3] for y in range(h)],     # bulk mix
                [1] + [2] * 5 + [0] + [2] * (h - 7),      # Sub-based runs
                [(0, 1, 2, 3, 4)[y % 5] for y in range(h)],  # loop path
                [3] * h,                                  # all Average
                [4] * h):                                 # all Paeth
            filters = filters[:h]
            dec = _png_decode(_make_png(px, filters))
            assert dec is not None and dec.shape == px.shape
            assert (dec == px).all(), filters


def test_unknown_filter_type_rejected():
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    data = bytearray(_make_png(px, [0, 0, 0, 0]))
    # corrupt one filter byte inside the IDAT: rebuild with filter 7
    raw = bytearray()
    for y in range(4):
        raw.append(7 if y == 2 else 0)
        raw += bytes(12)
    idat = zlib.compress(bytes(raw), 6)
    i = data.index(b"IDAT") - 4
    end = i + 12 + int.from_bytes(data[i:i + 4], "big")
    data[i:end] = (struct.pack(">I", len(idat)) + b"IDAT" + idat
                   + struct.pack(">I",
                                 zlib.crc32(b"IDAT" + idat) & 0xFFFFFFFF))
    assert _png_decode(bytes(data)) is None


def test_encoder_bytes_unchanged():
    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, size=(16, 11, 3), dtype=np.uint8)
    legacy_raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(16))
    assert zlib.compress(legacy_raw, 6) in _png_encode(arr)


def test_roundtrip_through_own_encoder():
    rng = np.random.RandomState(3)
    for ch, h in ((1, 21), (3, 21), (4, 21), (3, 1)):
        arr = rng.randint(0, 256, size=(h, 17, ch), dtype=np.uint8)
        dec = _png_decode(_png_encode(arr))
        assert (dec == arr).all()
        assert dec.flags.writeable  # callers resize/normalize in place

"""Property-based tests (hypothesis) for the pure-Python kernels:
the type algebra (TypeSum lattice laws the reference relies on,
octosql/types.go:239-382), CSV cell inference and the media decoders
on damaged input."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from conftest import make_wav
from octosql_spark import types as ot
from octosql_spark.datapipe import multimodal as mm
from octosql_spark.schema_infer import _infer_csv_cell

_SCALARS = [ot.NULL, ot.INT, ot.FLOAT, ot.BOOLEAN, ot.STRING, ot.TIME]


def _types(depth: int = 2) -> st.SearchStrategy:
    base = st.sampled_from(_SCALARS)
    if depth == 0:
        return base
    sub = _types(depth - 1)
    return st.one_of(
        base,
        st.builds(ot.list_of, sub),
        st.builds(lambda a, b: ot.struct_of({"x": a, "y": b}), sub, sub),
        st.builds(ot.union_of, sub, sub),
    )


@settings(max_examples=200)
@given(_types(), _types())
def test_type_sum_commutative(a, b):
    assert ot.type_sum(a, b) == ot.type_sum(b, a)


@settings(max_examples=100)
@given(_types(1), _types(1), _types(1))
def test_type_sum_associative(a, b, c):
    assert ot.type_sum(ot.type_sum(a, b), c) == \
        ot.type_sum(a, ot.type_sum(b, c))


@settings(max_examples=200)
@given(_types())
def test_type_sum_idempotent(a):
    assert ot.type_sum(a, a) == a


@settings(max_examples=200)
@given(_types(), _types())
def test_sum_is_upper_bound(a, b):
    # every value of `a` is a value of `a ⊔ b` (Is / at worst Maybe —
    # never ISNT; types.go Is() contract)
    s = ot.type_sum(a, b)
    assert ot.is_subtype(a, s) != ot.Is.ISNT
    assert ot.is_subtype(b, s) != ot.Is.ISNT


@given(st.integers(-10**17, 10**17))
def test_csv_cell_int(n):
    assert _infer_csv_cell(str(n)) == ot.INT


@given(st.floats(allow_nan=False, allow_infinity=False))
def test_csv_cell_float_or_int(x):
    # any finite float renders to something the ladder accepts as a
    # number (Int for integral renderings, Float otherwise)
    assert _infer_csv_cell(repr(x)) in (ot.INT, ot.FLOAT)


@given(st.text(alphabet=st.characters(codec="ascii",
                                      exclude_characters="\r\n,\""),
               min_size=1))
def test_csv_cell_total(s):
    # inference is total: every cell gets exactly one type
    t = _infer_csv_cell(s)
    assert t in (ot.INT, ot.FLOAT, ot.BOOLEAN, ot.TIME, ot.STRING, ot.NULL)


def _media(kind: str, w: int, h: int, seed: int) -> bytes:
    """Valid seed bytes: a random w×h PNG (grey or RGB), baseline JPEG
    (grey, RGB or 4:2:0 RGB) or a short 16-bit WAV."""
    import numpy as np
    rng = np.random.default_rng(seed)
    if kind == "wav":
        return make_wav(rng.uniform(-1, 1, w * h), n_ch=1 + seed % 2)
    ch = 1 if kind.endswith("grey") else 3
    arr = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    if kind.startswith("png"):
        return mm._png_encode(arr)
    return mm._jpeg_encode(arr, subsample=kind == "jpeg420")


# (op, position, byte): flip one byte, cut the tail, or insert a byte;
# positions wrap around the current length
_MUTATION = st.tuples(st.sampled_from(["flip", "cut", "insert"]),
                      st.integers(0, 1 << 16), st.integers(0, 255))


def _mutate(data: bytes, ops) -> bytes:
    b = bytearray(data)
    for op, pos, byte in ops:
        if not b:
            break
        pos %= len(b)
        if op == "flip":
            b[pos] ^= byte or 0xFF
        elif op == "cut":
            del b[pos:]
        else:
            b.insert(pos, byte)
    return bytes(b)


@settings(max_examples=300, derandomize=True, deadline=None)
@given(st.sampled_from(["png_grey", "png_rgb", "jpeg_grey", "jpeg_rgb",
                        "jpeg420", "wav"]),
       st.integers(1, 17), st.integers(1, 9), st.integers(0, 2**31),
       st.lists(_MUTATION, min_size=1, max_size=4))
def test_decoders_never_raise_on_damaged_media(kind, w, h, seed, ops):
    # a damaged blob is a NULL / stub-path row, never a failed task
    data = _mutate(_media(kind, w, h, seed), ops)
    for decode in (mm._pixels_decode, mm._wav_decode):
        arr = decode(data)
        assert arr is None or arr.flags.writeable
    mm._parse_image_header(data)
    mm._parse_av_header(data)

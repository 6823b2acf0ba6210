"""Property-based codec invariants (hypothesis), single-process:

* JPEG Huffman entropy coding: encode->decode of arbitrary quantized
  coefficient blocks is BIT-EXACT (the lossy part of JPEG is quantization
  only; entropy coding must be lossless).
* JPEG full roundtrip on random uniform-color images: max pixel error
  bounded by the flat-field quantization bound.
* PNG roundtrip: bit-exact (lossless) for arbitrary RGB arrays.
* BMP roundtrip: bit-exact for arbitrary RGB arrays.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from medical_ocr_service_spark.functions import jpeg as J
from medical_ocr_service_spark.operators import multimodal as mm

# JPEG DC categories cover |diff| < 2^11; AC categories |v| < 2^10. Keep the
# generated coefficients inside the code tables' range.
_coef = st.integers(min_value=-1000, max_value=1000)


@given(
    dc=st.integers(min_value=-1000, max_value=1000),
    pred=st.integers(min_value=-1000, max_value=1000),
    acs=st.lists(st.tuples(st.integers(0, 62), _coef), max_size=16),
)
@settings(max_examples=200, deadline=None)
def test_jpeg_entropy_coding_bit_exact(dc, pred, acs):
    zz = np.zeros(64, np.int64)
    zz[0] = dc
    for pos, v in acs:
        zz[1 + pos] = v
    dc_codes = J._build_codes(J.DC_LUMA_BITS, J.DC_LUMA_VALS)
    ac_codes = J._build_codes(J.AC_LUMA_BITS, J.AC_LUMA_VALS)
    bw = J._BitWriter()
    J._huff_encode_block(bw, zz, pred, dc_codes, ac_codes)
    # _BitWriter emits byte-stuffed entropy data (FF 00); _BitReader expects
    # unstuffed bytes (decode_jpeg unstuffs segments before reading).
    br = J._BitReader(bw.flush().replace(b"\xff\x00", b"\xff"))
    out, new_pred = J._decode_block(
        br,
        J._HuffDecoder(J.DC_LUMA_BITS, J.DC_LUMA_VALS),
        J._HuffDecoder(J.AC_LUMA_BITS, J.AC_LUMA_VALS),
        pred,
    )
    assert new_pred == dc
    assert np.array_equal(out, zz)


@given(
    r=st.integers(0, 255),
    g=st.integers(0, 255),
    b=st.integers(0, 255),
    w=st.integers(8, 40),
    h=st.integers(8, 40),
    sub=st.booleans(),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_flat_field_roundtrip(r, g, b, w, h, sub):
    img = np.full((h, w, 3), (r, g, b), np.uint8)
    _, _, dec = J.decode_jpeg(J.encode_jpeg(img, quality=95, subsample=sub))
    # a flat field has only DC energy; error = color transform + DC
    # quantization rounding, bounded well under 8 at q95
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 8


@given(
    arr=arrays(
        np.uint8, st.tuples(st.integers(1, 12), st.integers(1, 12), st.just(3))
    )
)
@settings(max_examples=50, deadline=None)
def test_png_roundtrip_lossless(arr):
    w, h, out = mm.decode_png(mm.encode_png(arr))
    assert (w, h) == (arr.shape[1], arr.shape[0])
    assert np.array_equal(out, arr)


@given(
    arr=arrays(
        np.uint8, st.tuples(st.integers(1, 12), st.integers(1, 12), st.just(3))
    )
)
@settings(max_examples=50, deadline=None)
def test_bmp_roundtrip_lossless(arr):
    w, h, out = mm.decode_bmp(mm.encode_bmp(arr))
    assert (w, h) == (arr.shape[1], arr.shape[0])
    assert np.array_equal(out, arr)

"""Baseline JPEG codec pins (pure numpy, no image library).

JPEG is lossy, so the contracts differ from the lossless codecs:
- flat-color images round-trip within one grey level (DC-only blocks;
  the chroma DC error crosses the inverse color transform with gain up
  to 1.772, so per-color exactness is not a theorem — representative
  colors at q90 are pinned exact, the general +/-1 law is in
  tests/test_properties.py);
- smooth images are held to PSNR bounds;
- structural features (byte stuffing, restart markers, 4:2:0, grayscale,
  odd dimensions) are pinned individually;
- the zigzag table is pinned against the T.81 Figure-5 sequence written
  out independently here, so a transposed/reflected scan can't hide by
  being self-consistent between encoder and decoder.
"""

import numpy as np
import pytest

from geowave_spark.functions.jpegcodec import (
    ZIGZAG,
    _canonical_codes,
    _AC_CHROMA_BITS,
    _AC_CHROMA_VALS,
    _AC_LUMA_BITS,
    _AC_LUMA_VALS,
    _DC_CHROMA_BITS,
    _DC_CHROMA_VALS,
    _DC_LUMA_BITS,
    _DC_LUMA_VALS,
    jpeg_bytes,
    jpeg_decode,
)


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = ((a.astype(np.float64) - b.astype(np.float64)) ** 2).mean()
    return 10.0 * np.log10(255.0**2 / max(mse, 1e-12))


def test_zigzag_is_the_spec_sequence():
    # T.81 Figure 5 written as (row, col) pairs, independent of the module's
    # flat-index table.
    path = []
    r = c = 0
    for _ in range(64):
        path.append(r * 8 + c)
        if (r + c) % 2 == 0:  # moving up-right
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r -= 1
                c += 1
        else:  # moving down-left
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r += 1
                c -= 1
    assert ZIGZAG.tolist() == path


def test_huffman_tables_are_consistent_and_prefix_free():
    for bits, vals in [
        (_DC_LUMA_BITS, _DC_LUMA_VALS),
        (_DC_CHROMA_BITS, _DC_CHROMA_VALS),
        (_AC_LUMA_BITS, _AC_LUMA_VALS),
        (_AC_CHROMA_BITS, _AC_CHROMA_VALS),
    ]:
        codes = _canonical_codes(bits, vals)
        assert len(codes) == len(vals)
        # prefix-freedom: no code is a prefix of another
        as_bits = {format(c, f"0{l}b") for c, l in codes.values()}
        assert len(as_bits) == len(codes)
        for a in as_bits:
            for b in as_bits:
                if a is not b and len(a) < len(b):
                    assert not b.startswith(a)


@pytest.mark.parametrize("subsample", ["444", "420"])
@pytest.mark.parametrize("color", [(0, 0, 0), (255, 255, 255), (128, 64, 200)])
def test_flat_color_roundtrip_exact(color, subsample):
    img = np.full((16, 16, 3), color, np.uint8)
    out = jpeg_decode(jpeg_bytes(img, quality=90, subsample=subsample))
    assert (out == img).all()


@pytest.mark.parametrize("subsample,min_psnr", [("444", 45.0), ("420", 38.0)])
def test_gradient_psnr(subsample, min_psnr):
    x = np.linspace(0, 255, 32)
    g = np.tile(x, (32, 1))
    img = np.stack([g, g[::-1], np.full_like(g, 128)], 2).astype(np.uint8)
    out = jpeg_decode(jpeg_bytes(img, quality=90, subsample=subsample))
    assert _psnr(out, img) >= min_psnr


def test_noise_psnr_q95():
    img = np.random.RandomState(7).randint(0, 256, (24, 24, 3), np.uint8)
    out = jpeg_decode(jpeg_bytes(img, quality=95))
    assert _psnr(out, img) >= 30.0


def test_odd_dimensions_crop():
    """13x9 with 4:2:0 forces 16-pixel MCUs: the padded block rows/cols
    must be cropped back to the SOF dimensions.  Per-pixel color noise is
    destroyed by 4:2:0 chroma averaging BY DESIGN, so the lossy bound is on
    the luma plane (full resolution) plus a smooth-image RGB bound."""
    rng = np.random.RandomState(3)
    img = (rng.randint(0, 256, (13, 9, 3), np.uint8) // 32 * 32).astype(np.uint8)
    out = jpeg_decode(jpeg_bytes(img, quality=90, subsample="420"))
    assert out.shape == (13, 9, 3)

    def luma(x):
        return 0.299 * x[:, :, 0] + 0.587 * x[:, :, 1] + 0.114 * x[:, :, 2]

    assert _psnr(luma(out), luma(img)) >= 32.0
    g = np.tile(np.linspace(0, 255, 9), (13, 1))
    smooth = np.stack([g, g, g], 2).astype(np.uint8)
    sout = jpeg_decode(jpeg_bytes(smooth, quality=90, subsample="420"))
    assert sout.shape == (13, 9, 3) and _psnr(sout, smooth) >= 45.0


def test_grayscale_stream():
    img = np.tile(np.linspace(0, 255, 16, dtype=np.uint8).reshape(1, 16, 1), (16, 1, 3))
    out = jpeg_decode(jpeg_bytes(img, quality=90, grayscale=True))
    assert out.shape == (16, 16, 3)
    assert (out[:, :, 0] == out[:, :, 1]).all() and (out[:, :, 1] == out[:, :, 2]).all()
    assert _psnr(out[:, :, 0], img[:, :, 0]) >= 40.0


def test_restart_markers_do_not_change_pixels():
    """RSTn every 2 MCUs resets DC predictors; decoded pixels must equal
    the no-restart stream's (identical quantized coefficients)."""
    img = np.random.RandomState(11).randint(0, 256, (32, 32, 3), np.uint8)
    with_rst = jpeg_bytes(img, quality=80, restart_interval=2)
    without = jpeg_bytes(img, quality=80)
    assert b"\xff\xd0" in with_rst or b"\xff\xd1" in with_rst
    assert (jpeg_decode(with_rst) == jpeg_decode(without)).all()


def test_byte_stuffing_roundtrip():
    """Seed 0 is known to produce a 0xFF entropy byte (stuffed to FF 00);
    the decoder must unstuff it rather than see a marker."""
    img = np.random.RandomState(0).randint(0, 256, (16, 16, 3), np.uint8)
    buf = jpeg_bytes(img, quality=95)
    assert b"\xff\x00" in buf[buf.find(b"\xff\xda") :]
    assert _psnr(jpeg_decode(buf), img) >= 30.0


def test_quality_monotonicity():
    img = np.random.RandomState(5).randint(0, 256, (16, 16, 3), np.uint8)
    p = [_psnr(jpeg_decode(jpeg_bytes(img, quality=q)), img) for q in (25, 60, 95)]
    assert p[0] < p[1] < p[2]


@pytest.mark.parametrize("subsample", ["444", "420"])
@pytest.mark.parametrize("grayscale", [False, True])
@pytest.mark.parametrize("restart", [0, 3])
def test_progressive_decodes_identically_to_baseline(subsample, grayscale, restart):
    """SOF2 streams carry the same quantized coefficients as SOF0, split
    across spectral-selection + successive-approximation scans — decoding
    either must give bit-identical pixels."""
    img = np.random.RandomState(11).randint(0, 256, (17, 29, 3), np.uint8)
    kw = dict(
        quality=85, subsample=subsample, grayscale=grayscale, restart_interval=restart
    )
    base = jpeg_decode(jpeg_bytes(img, **kw))
    buf = jpeg_bytes(img, progressive=True, **kw)
    assert b"\xff\xc2" in buf and b"\xff\xc0" not in buf
    assert buf.count(b"\xff\xda") > 1  # genuinely multi-scan
    assert (jpeg_decode(buf) == base).all()


def test_progressive_flat_color_exercises_eob_runs():
    """A flat 64x64 image is all-EOB in every AC scan: the end-of-band run
    counter accumulates across blocks and is coded with multi-bit EOBn
    symbols, the Annex-G path baseline tables cannot express."""
    for color in [(0, 0, 0), (255, 255, 255), (13, 200, 77)]:
        img = np.full((64, 64, 3), color, np.uint8)
        base = jpeg_decode(jpeg_bytes(img, quality=30))
        prog = jpeg_decode(jpeg_bytes(img, quality=30, progressive=True))
        assert (base == prog).all()


def test_progressive_sparse_low_quality():
    """Sparse impulses at low quality force long zero runs inside refinement
    scans (ZRL folding + buffered correction bits)."""
    rng = np.random.RandomState(3)
    img = np.zeros((48, 48, 3), np.uint8)
    for _ in range(30):
        y, x = rng.randint(0, 48, 2)
        img[y, x] = rng.randint(0, 256, 3)
    for q in (10, 50, 95):
        base = jpeg_decode(jpeg_bytes(img, quality=q))
        prog = jpeg_decode(jpeg_bytes(img, quality=q, progressive=True))
        assert (base == prog).all()


def test_prog_ac_table_covers_annex_g_symbols():
    """The progressive AC table must cover every EOBn (0x10..0xE0), ZRL,
    and run/size symbol, stay prefix-free, and leave all-ones codes free."""
    from geowave_spark.functions.jpegcodec import _PROG_AC_BITS, _PROG_AC_VALS

    codes = _canonical_codes(_PROG_AC_BITS, _PROG_AC_VALS)
    for r in range(15):
        assert (r << 4) in codes, f"missing EOB{r}"
    assert 0xF0 in codes
    for r in range(16):
        for s in range(1, 11):
            assert ((r << 4) | s) in codes
    as_bits = {format(c, f"0{l}b") for c, l in codes.values()}
    assert len(as_bits) == len(codes)
    for a in as_bits:
        for b in as_bits:
            if a is not b and len(a) < len(b):
                assert not b.startswith(a)
    assert all(set(s) != {"1"} for s in as_bits)  # all-ones never assigned


def test_progressive_malformed_dc_scan_rejected():
    """A 'progressive' stream whose first scan spans Ss=0..Se=63 is
    malformed (DC scans must have Se=0)."""
    img = np.zeros((8, 8, 3), np.uint8)
    buf = bytearray(jpeg_bytes(img))
    i = buf.find(b"\xff\xc0")
    buf[i + 1] = 0xC2  # rewrite SOF0 -> SOF2 without re-scripting the scan
    with pytest.raises(ValueError, match="Se=0"):
        jpeg_decode(bytes(buf))


def test_not_a_jpeg_rejected():
    with pytest.raises(ValueError, match="not a JPEG"):
        jpeg_decode(b"BMnope")

"""Analytical-identity tests on the kernel models, mirroring the reference's
``tests/test_kernel_model.py`` strategy (SURVEY.md §5.3):

- identical / linearly-related src-ref pairs ⇒ gain/offset recover the true
  relation to abs 1e-2 (reference tolerance, ``test_kernel_model.py:55-56``)
- apply with params ≡ (1, 1) ⇒ out = src + 1 (``test_kernel_model.py:84-117``)
- R² ≈ 1 on perfectly-related pairs (``test_kernel_model.py:309-316``)
- planted outlier: low local R², inpainted offsets pulled back toward 0
  (``test_kernel_model.py:166-203``)
"""

import numpy as np
import pytest

from homonim_spark.enums import Model
from homonim_spark.kernel.models import (
    KernelModelParams,
    apply_model,
    fit_and_apply_ref_space,
    fit_model,
    overlap_for_kernel,
    ref_space_chunk,
    src_space_chunk,
)

MODELS = [Model.gain, Model.gain_blk_offset, Model.gain_offset]
KERNELS = [(1, 1), (3, 3), (5, 5), (5, 7), (9, 9)]


def gradient(h=20, w=10, border=1):
    r = np.arange(h)[:, None]
    c = np.arange(w)[None, :]
    arr = (1.0 + ((r * 10 + c) % 200)).astype(np.float32)
    if border:
        arr[:border] = np.nan
        arr[-border:] = np.nan
        arr[:, :border] = np.nan
        arr[:, -border:] = np.nan
    return arr


@pytest.mark.parametrize("model", MODELS)
@pytest.mark.parametrize("kernel", KERNELS)
def test_identity_fit(model, kernel):
    if model == Model.gain_offset and kernel == (1, 1):
        pytest.skip("gain-offset needs >=2 kernel elements (utils.py:104-133)")
    src = gradient()
    ref = gradient()
    params = fit_model(src, ref, KernelModelParams(model=model, kernel_shape=kernel,
                                                   r2_inpaint_thresh=None))
    mask = ~np.isnan(src)
    np.testing.assert_allclose(params[0][mask], 1.0, atol=1e-2)
    np.testing.assert_allclose(params[1][mask], 0.0, atol=1e-2)


@pytest.mark.parametrize("model", MODELS)
def test_scaled_fit_recovers_relation(model):
    src = gradient()
    # gain-only is LS-through-origin: it can only represent pure scaling
    # (the reference likewise tests it on offset-free pairs)
    true_gain, true_off = (2.0, 0.0) if model == Model.gain else (2.0, 10.0)
    ref = (src * true_gain + true_off).astype(np.float32)
    params = fit_model(src, ref, KernelModelParams(model=model, kernel_shape=(5, 5),
                                                   r2_inpaint_thresh=None))
    mask = ~np.isnan(src)
    # gain-only folds the offset into a varying gain; the other two models
    # must recover the exact linear relation
    if model != Model.gain:
        np.testing.assert_allclose(params[0][mask], true_gain, atol=1e-2)
        np.testing.assert_allclose(params[1][mask], true_off, atol=1e-1)
    # corrected output must equal ref for every model (reference
    # test_fuse_api tolerance abs 2; these are exact relations so tighter)
    corr = apply_model(src, params)
    np.testing.assert_allclose(corr[mask], ref[mask], atol=0.5)


@pytest.mark.parametrize("model", MODELS)
def test_r2_is_one_on_perfect_relation(model):
    src = gradient()
    ref = (src * 1.5 + 3.0).astype(np.float32)
    params = fit_model(
        src, ref,
        KernelModelParams(model=model, kernel_shape=(5, 5), find_r2=True,
                          r2_inpaint_thresh=None),
    )
    mask = ~np.isnan(src)
    if model == Model.gain:
        # gain-only can't model the +3 offset perfectly, so only check shape
        assert params.shape[0] == 3
    else:
        np.testing.assert_allclose(params[2][mask], 1.0, atol=1e-3)


def test_apply_unit_params_adds_one():
    src = gradient()
    params = np.stack([np.ones_like(src), np.ones_like(src)])
    out = apply_model(src, params)
    mask = ~np.isnan(src)
    np.testing.assert_allclose(out[mask], src[mask] + 1, atol=1e-2)
    assert np.isnan(out[~mask]).all()


@pytest.mark.parametrize("kernel", [(5, 5), (5, 7), (9, 9)])
def test_outlier_r2_and_inpainting(kernel):
    """Replicates the reference's test_r2_inpainting
    (``tests/test_kernel_model.py:166-203``): src == ref except one *reference*
    pixel set to -100 — an outlier in y, so R² collapses for every kernel
    covering it; inpainting restores offsets ≈ 0 and reduces gain variance."""
    src = np.kron(gradient(20, 10, border=0), np.ones((2, 2), dtype=np.float32))
    src[:2] = np.nan; src[-2:] = np.nan; src[:, :2] = np.nan; src[:, -2:] = np.nan
    ref = src.copy()
    loc = (src.shape[0] // 2, src.shape[1] // 2)
    ref[loc] = -100.0
    kh, kw = kernel
    low = np.zeros_like(src, dtype=bool)
    low[loc[0] - kh // 2 : loc[0] - kh // 2 + kh, loc[1] - kw // 2 : loc[1] - kw // 2 + kw] = True
    mask = ~np.isnan(src)

    no_inpaint = fit_model(src, ref, KernelModelParams(
        model=Model.gain_offset, kernel_shape=kernel, find_r2=True,
        r2_inpaint_thresh=-np.inf))
    inpaint = fit_model(src, ref, KernelModelParams(
        model=Model.gain_offset, kernel_shape=kernel, find_r2=True, r2_inpaint_thresh=0.5))

    for param in (no_inpaint, inpaint):
        np.testing.assert_allclose(param[2][~low & mask], 1.0, atol=1e-3)
        assert (param[2][low] < 0.5).all()

    ni_mask = ~np.isnan(no_inpaint[1])
    ip_mask = ~np.isnan(inpaint[1])
    assert not np.allclose(no_inpaint[1][ni_mask], 0.0, atol=1e-1)
    # IDW fill (GDAL fillnodata semantics): inpainted offsets are the
    # 1/d-weighted average of surrounding ≈0 offsets — within float32
    # kernel-sum roundoff of 0 (10x tighter than the old front-fill bound)
    np.testing.assert_allclose(inpaint[1][ip_mask], 0.0, atol=1e-2)
    assert inpaint[0][ip_mask].var() < no_inpaint[0][ni_mask].var()


def test_sigma_clip_rejects_outlier():
    """Sigma-clipped masking (north_star): a planted source outlier is
    rejected from the fit — params near the outlier recover the clean
    relation, and the clipped pixel's parameters are masked."""
    src = gradient(30, 30, border=1)
    ref = (src * 2.0).astype(np.float32)
    loc = (15, 15)
    src_bad = src.copy()
    src_bad[loc] = src[loc] + 500.0  # leverage outlier in x

    no_clip = fit_model(src_bad, ref, KernelModelParams(
        model=Model.gain, kernel_shape=(5, 5), r2_inpaint_thresh=None))
    clipped = fit_model(src_bad, ref, KernelModelParams(
        model=Model.gain, kernel_shape=(5, 5), r2_inpaint_thresh=None,
        sigma_clip=3.0))

    region = (slice(13, 18), slice(13, 18))
    # unclipped gains are badly distorted near the outlier
    assert np.nanmax(np.abs(no_clip[0][region] - 2.0)) > 0.1
    # clipped: the outlier pixel is masked out, surrounding gains recover
    assert np.isnan(clipped[0][loc])
    good = ~np.isnan(clipped[0][region])
    np.testing.assert_allclose(clipped[0][region][good], 2.0, atol=1e-2)


def test_sigma_clip_noop_on_clean_data():
    src = gradient()
    ref = (src * 1.5).astype(np.float32)
    a = fit_model(src, ref, KernelModelParams(model=Model.gain, kernel_shape=(5, 5),
                                              r2_inpaint_thresh=None))
    b = fit_model(src, ref, KernelModelParams(model=Model.gain, kernel_shape=(5, 5),
                                              r2_inpaint_thresh=None, sigma_clip=3.0))
    # residuals of a perfect relation are ~0 with tiny float noise; clipping
    # at 3 sigma of that noise may mask a few pixels but must not distort
    # surviving parameters
    m = ~np.isnan(b[0])
    np.testing.assert_allclose(b[0][m], a[0][m], atol=1e-4)


def test_ref_space_fit_apply_roundtrip():
    """2× src over identical content: corrected ≈ ref relation at src scale
    (mirrors test_fuse_api.py:82-114 'out ≈ src within abs=2')."""
    ref = gradient(20, 20, border=1)
    src = np.kron(gradient(20, 20, border=0), np.ones((2, 2), dtype=np.float32))
    src[:2] = np.nan; src[-2:] = np.nan; src[:, :2] = np.nan; src[:, -2:] = np.nan
    for model in MODELS:
        param, corr = fit_and_apply_ref_space(
            src, ref, KernelModelParams(model=model, kernel_shape=(5, 5),
                                        r2_inpaint_thresh=None), (2, 2))
        mask = ~np.isnan(corr)
        assert mask.any()
        np.testing.assert_allclose(corr[mask], src[mask], atol=2.0)


def test_partial_mask_erodes_edges():
    ref = gradient(20, 20, border=1)
    src = np.kron(gradient(20, 20, border=0), np.ones((2, 2), dtype=np.float32))
    p = KernelModelParams(model=Model.gain_blk_offset, kernel_shape=(5, 5),
                          mask_partial=True, r2_inpaint_thresh=None)
    param, corr = fit_and_apply_ref_space(src, ref, p, (2, 2))
    full = np.count_nonzero(~np.isnan(src))
    kept = np.count_nonzero(~np.isnan(corr))
    assert 0 < kept < full  # strictly smaller output footprint


def _chunk_pair(factor):
    """A coarse ref image and a ``factor``-times finer src with a NaN
    border and a NaN hole, related by a spatially varying gain/offset."""
    ref = gradient(20, 20, border=1)
    src = np.kron(gradient(20, 20, border=0), np.ones((factor, factor), dtype=np.float32))
    src = (0.5 * src + 3.0 + np.arange(src.shape[1], dtype=np.float32) / 7).astype(np.float32)
    src[:factor] = np.nan
    src[:, -factor:] = np.nan
    src[9 * factor:11 * factor + 1, 5 * factor:6 * factor] = np.nan
    return src, ref


def _in_canvas(img, oh, ow, scale):
    """Place ``img`` inside a NaN ring of ``oh``×``ow`` coarse pixels."""
    h, w = img.shape
    canvas = np.full((h + 2 * oh * scale, w + 2 * ow * scale), np.nan, dtype=np.float32)
    canvas[oh * scale : oh * scale + h, ow * scale : ow * scale + w] = img
    return canvas


@pytest.mark.parametrize("mask_partial", [False, True])
@pytest.mark.parametrize("model", MODELS)
def test_ref_space_chunk_matches_whole_image(model, mask_partial):
    """A chunk whose halo ring holds no data is the whole image: the
    Spark-free chunk kernel equals the whole-image oracle on the bare image."""
    src, ref = _chunk_pair(2)
    params = KernelModelParams(model=model, kernel_shape=(5, 5), find_r2=True,
                               mask_partial=mask_partial)
    oh, ow = overlap_for_kernel(params.kernel_shape)
    got_param, got_corr = ref_space_chunk(_in_canvas(src, oh, ow, 2),
                                          _in_canvas(ref, oh, ow, 1), params, 2)
    want_param, want_corr = fit_and_apply_ref_space(src, ref, params, (2, 2))
    # bit-exact: the ring adds only exact zeros to the kernel sums, and the
    # image's own NaN edge already keeps the param upsampler off its clamp
    assert got_param.tobytes() == want_param.tobytes()
    assert got_corr.tobytes() == want_corr.tobytes()
    # src and ref sharing no valid pixel → nothing to emit
    assert ref_space_chunk(np.full_like(src, np.nan), ref, params, 2) is None


@pytest.mark.parametrize("mask_partial", [False, True])
@pytest.mark.parametrize("model", MODELS)
def test_src_space_chunk_equals_ref_space_at_factor_1(model, mask_partial):
    """On aligned grids the two processing spaces are the same computation:
    bit-identical params and corrected pixels."""
    src, ref = _chunk_pair(1)
    params = KernelModelParams(model=model, kernel_shape=(3, 3), find_r2=True,
                               mask_partial=mask_partial)
    oh, ow = overlap_for_kernel(params.kernel_shape)
    src_c, ref_c = _in_canvas(src, oh, ow, 1), _in_canvas(ref, oh, ow, 1)
    a = ref_space_chunk(src_c, ref_c, params, 1)
    b = src_space_chunk(src_c, ref_c, params, 1)
    assert np.count_nonzero(~np.isnan(a[1])) > 0
    for x, y in zip(a, b):
        assert x.shape == y.shape and x.tobytes() == y.tobytes()
